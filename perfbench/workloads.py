"""The benchmark's workloads: which ops a pass runs and how each output
is checked.

An op is one call into the package's public functions that returns a
DataFrame (``build``) followed by ``collect``, which brings the rows to
the caller the way a user receives them and runs the query plan the
DataFrame already holds. An op whose ``build`` returns ``None`` does all
of its work inside build.

- ``catalog``: catalog queries over generated star-schema tables, one or
  two per layer of the engine: a headline relational query, an
  extended-tier query whose time is mostly DataFrame build (jobs run
  while the DataFrame is built), a Mongo pipeline compiled over a table,
  a partitioned sink round trip and a stateful streaming drain of the
  event log. Outputs are checked against each query's DuckDB oracle.
- ``cricket_reference``: the reference's ETL (read, quarantine split,
  normalize/flatten, upsert) over a generated Cricsheet dump, then its
  Mongo pipelines, Cypher statements and native cricket queries over the
  written collections. Outputs are checked against the generator's
  ground truth.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import time
from dataclasses import dataclass
from typing import Callable

import gen_cricket
import gen_star

STAR_SF = 0.01
STAR_DATA_SEED = 42

# Catalog query -> the layer it exercises. At sf0.01 (4 cores) no query
# is bound by job execution: job time is 27-63% of wall for every
# headline and extended query, the rest is DataFrame build, planning and
# driver time between jobs. The choice, from a traced pass over all of
# them:
# - pricing_summary: headline tier, one job in build, ~40% in jobs;
# - adamic_adar_linkpred: extended tier, 77% of wall in DataFrame build
#   (7 of its 12 jobs run there) at 0.9 s; pca_top_component (89%) takes
#   twice as long and pagerank_top (96%) runs the same PageRank kernel
#   as the cricket_reference workload's gds.pageRank call;
# - mongo_pipeline_group_topk: compile_pipeline over lineitem;
# - partitioned_sink_roundtrip: partitioned parquet write, read back;
# - stream_dedup: stateful dedup drain of the event log.
CATALOG_OPS = {
    "pricing_summary": "operators",
    "adamic_adar_linkpred": "operators",
    "mongo_pipeline_group_topk": "plans",
    "partitioned_sink_roundtrip": "sinks",
    "stream_dedup": "streaming",
}
# streaming drain -> input rows it reads per staged event
# (stream_dedup unions the stream with itself)
STREAMS = {"stream_dedup": 2}
CRICKET_MATCHES = 120


@dataclass
class Op:
    name: str
    build: Callable
    # rows the op takes in, for the workload's intake op (rows_per_s)
    input_rows: int = 0
    # "operators" | "plans" | "sinks" | "streaming" | "etl"
    layer: str = "operators"
    # returns an error message, or None when the rows are right
    check: Callable[[list], str | None] | None = None
    oracle: str | None = None
    fn: Callable | None = None  # catalog function, for the oracle check


@dataclass
class Ingest:
    """Per-ingest facts the cricket workload records beside timing."""
    quarantined: int = -1
    parse_s: float = 0.0
    rows_flattened: int = -1


def star_tables() -> list[str]:
    from cricket_analytics_nosql_spark.sources.tables import TABLES

    return list(TABLES)


def tables_in(sql: str) -> list[str]:
    """Star tables an oracle query names."""
    words = set(re.findall(r"[a-z_]+", sql.lower()))
    return [t for t in star_tables() if t in words]


class Catalog:
    name = "catalog"
    names = tuple(CATALOG_OPS)
    # Untimed passes after the check pass. Catalog ops keep speeding up
    # through their first four runs or so (the JVM is still compiling),
    # and a pass costs ~4 s; a cricket pass costs twice that.
    warm_passes = 1
    observe = False  # no op of this workload records extra counts

    def prepare(self, work: str, seed: int) -> dict:
        """Generate (or reuse) the star tables; return facts for the
        record. The tables are fixed; ``seed`` orders the queries."""
        import pyarrow.parquet as pq

        from cricket_analytics_nosql_spark.catalog import all_queries

        self.sf_dir = os.path.join(
            work, f"star-sf{STAR_SF}-seed{STAR_DATA_SEED}"
        )
        nbytes = gen_star.write(self.sf_dir, STAR_SF, STAR_DATA_SEED)
        self.rows = {
            t: pq.ParquetFile(
                os.path.join(self.sf_dir, f"{t}.parquet")
            ).metadata.num_rows
            for t in star_tables()
        }
        specs = all_queries()
        self.specs = {n: specs[n] for n in self.names}
        return {"star_sf": STAR_SF, "star_bytes": nbytes, "rows": self.rows}

    def ops(self, rng: random.Random) -> list[Op]:
        """One pass, in the order ``rng`` picks."""
        names = list(self.names)
        rng.shuffle(names)
        sf = self.sf_dir
        return [
            Op(
                name=n,
                build=lambda spark, fn=self.specs[n].fn: fn(spark, sf),
                input_rows=self.rows["events"] * STREAMS.get(n, 0),
                layer=CATALOG_OPS[n],
                oracle=self.specs[n].oracle,
                fn=self.specs[n].fn,
            )
            for n in names
        ]

    def source_tables(self) -> list[str]:
        return sorted({
            t for n in self.names for t in tables_in(self.specs[n].oracle)
        })


# -- cricket_reference ------------------------------------------------------

# mongo_analytics_examples.py, as the reference ships them
MONGO_RUNS_BY_BATTER = [
    {"$group": {
        "_id": "$batter",
        "runs": {"$sum": "$runs_batter"},
        "balls": {"$sum": 1},
        "boundaries": {"$sum": "$is_boundary"},
    }},
    {"$addFields": {
        "strikeRate": {"$multiply": [{"$divide": ["$runs", "$balls"]}, 100]},
        "boundaryPct": {
            "$multiply": [{"$divide": ["$boundaries", "$balls"]}, 100]
        },
    }},
    {"$sort": {"runs": -1, "_id": 1}},
    {"$limit": 10},
]
_WKT = {"$cond": [{"$gt": [{"$size": {"$ifNull": ["$wickets", []]}}, 0]}, 1, 0]}


def mongo_head_to_head(batter: str, bowler: str) -> list[dict]:
    return [
        {"$match": {"batter": batter, "bowler": bowler}},
        {"$group": {
            "_id": None,
            "balls": {"$sum": 1},
            "runs": {"$sum": "$runs_total"},
            "outs": {"$sum": _WKT},
        }},
    ]


# cypher_queries.cypher (b) and the gds.pageRank call
CYPHER_TOUGHEST = """
MATCH (bat:Player {name:$batter})-[r:FACED]->(bow:Player)
WITH bow, count(r) AS balls, sum(r.runs) AS runs, sum(CASE WHEN r.isWicket THEN 1 ELSE 0 END) AS outs
WHERE balls >= 30
RETURN bow.name AS bowler, balls, runs, (toFloat(runs)/balls)*100 AS strikeRate, outs
ORDER BY strikeRate ASC, outs DESC
LIMIT 10
"""
CYPHER_PAGERANK = """
CALL gds.pageRank.stream('duels')
YIELD nodeId, score
RETURN gds.util.asNode(nodeId).name AS player, score
ORDER BY score DESC LIMIT 20
"""
MIN_BALLS, MIN_CO = 30, 20


def expected_runs_by_batter(truth: dict, limit: int = 10) -> list[tuple]:
    rows = [
        (b, runs, balls, bnd, runs / balls * 100, bnd / balls * 100)
        for b, (runs, balls, bnd) in truth["per_batter"].items()
    ]
    return sorted(rows, key=lambda r: (-r[1], r[0]))[:limit]


def expected_toughest(truth: dict, batter: str) -> list[tuple]:
    """Every qualifying bowler, in the native query's order."""
    rows = [
        (bowler, balls, runs, float(runs) / balls * 100, outs)
        for (bat, bowler), (balls, runs, outs) in truth["head_to_head"].items()
        if bat == batter and balls >= MIN_BALLS
    ]
    return sorted(rows, key=lambda r: (r[3], -r[4], r[0]))


def expected_partnerships(truth: dict, team: str) -> list[tuple]:
    by_bowler: dict[str, list[tuple[str, int]]] = {}
    for (t, batter, bowler), n in truth["team_pairs"].items():
        if t == team:
            by_bowler.setdefault(bowler, []).append((batter, n))
    co: dict[tuple[str, str], int] = {}
    for pairs in by_bowler.values():
        for a, na in pairs:
            for b, nb in pairs:
                if a != b:
                    co[(a, b)] = co.get((a, b), 0) + na * nb
    rows = [(a, b, c) for (a, b), c in co.items() if c >= MIN_CO]
    return sorted(rows, key=lambda r: (-r[2], r[0], r[1]))


# rounds of power iteration the gds.pageRank call runs: compile_cypher
# runs operators.graph.pagerank with its defaults, at most 15 rounds,
# stopping early only once a round moves the scores by < 1e-6 per vertex
PAGERANK_ROUNDS = 15


def expected_pagerank(truth: dict, damping: float = 0.85,
                      rounds: int = PAGERANK_ROUNDS) -> dict[str, float]:
    """Unweighted PageRank over the distinct (batter, bowler) pairs,
    dangling mass spread evenly, scores summing to the vertex count
    (the gds.pageRank normalisation), ``rounds`` rounds from all ones."""
    edges = sorted(truth["head_to_head"])
    nodes = sorted({v for e in edges for v in e})
    out: dict[str, list[str]] = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    n = len(nodes)
    rank = dict.fromkeys(nodes, 1.0)
    for _ in range(rounds):
        contrib = dict.fromkeys(nodes, 0.0)
        for s, ds in out.items():
            share = rank[s] / len(ds)
            for d in ds:
                contrib[d] += share
        dangling = n - sum(contrib.values())
        base = (1 - damping) + damping * dangling / n
        rank = {v: base + damping * contrib[v] for v in nodes}
    return rank


def _same(got: list[tuple], want: list[tuple]) -> str | None:
    if got == want:
        return None
    return f"got {got[:3]}... ({len(got)} rows), want {want[:3]}... ({len(want)} rows)"


def check_top_ties(got: list[tuple], want: list[tuple], limit: int,
                   key: Callable[[tuple], tuple]) -> str | None:
    """``ORDER BY <key> LIMIT n`` whose key can tie: any rows of the full
    answer ``want`` (sorted by ``key``) are right so long as their keys
    are, in order, the first ``limit`` keys of the answer."""
    allowed = set(want)
    if not set(got) <= allowed:
        return f"rows not in the answer: {sorted(set(got) - allowed)[:3]}"
    keys = [key(r) for r in got]
    if keys != [key(r) for r in want[:limit]]:
        return f"keys {keys[:3]}... != {[key(r) for r in want[:limit]][:3]}..."
    return None


def check_pagerank(got: list[tuple], truth_rank: dict[str, float],
                   limit: int = 20, tol: float = 1e-4) -> str | None:
    if len(got) != min(limit, len(truth_rank)):
        return f"{len(got)} rows"
    for player, score in got:
        if abs(score - truth_rank.get(player, float("nan"))) > tol:
            return f"{player}: {score} vs {truth_rank.get(player)}"
    scores = [s for _, s in got]
    if scores != sorted(scores, reverse=True):
        return "not ordered by score"
    names = {p for p, _ in got}
    cut = min(scores)
    missed = [p for p, s in truth_rank.items() if p not in names and s > cut + tol]
    return f"missing {missed[:3]}" if missed else None


class CricketReference:
    name = "cricket_reference"
    warm_passes = 0

    def prepare(self, work: str, seed: int) -> dict:
        self.dump = os.path.join(work, "cricsheet")
        shutil.rmtree(self.dump, ignore_errors=True)
        self.truth = gen_cricket.generate(self.dump, seed, CRICKET_MATCHES)
        self.out = os.path.join(work, "collections")
        self.deliveries_path = os.path.join(self.out, "deliveries")
        self.matches_path = os.path.join(self.out, "matches")
        self.rank = expected_pagerank(self.truth)
        self.last_ingest = Ingest()
        self.observe = False
        t = self.truth
        return {k: t[k] for k in (
            "files", "input_bytes", "quarantined", "matches", "duplicates",
            "rows_in", "deliveries")}

    # -- ingest: the reference's ETL entry point ---------------------------
    def ingest(self, spark, observe: bool = False) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from cricket_analytics_nosql_spark.operators.etl import (
            flatten_deliveries,
            normalize_matches,
            upsert_by_key,
        )
        from cricket_analytics_nosql_spark.sources.cricsheet import (
            read_cricsheet,
            split_quarantine,
        )

        rec = Ingest()
        raw = read_cricsheet(spark, self.dump)
        good, bad = split_quarantine(raw)
        t0 = time.time()
        rec.quarantined = bad.count()
        rec.parse_s = time.time() - t0
        deliveries = flatten_deliveries(good)
        obs = None
        if observe:
            obs = Observation()
            deliveries = deliveries.observe(obs, F.count(F.lit(1)).alias("n"))
        upsert_by_key(normalize_matches(good), self.matches_path, ["_id"])
        upsert_by_key(deliveries, self.deliveries_path,
                      ["matchId", "innings", "over", "ball"])
        if obs is not None:
            rec.rows_flattened = int(obs.get["n"])
        raw.unpersist()
        self.last_ingest = rec

    def check_ingest(self, spark) -> str | None:
        t = self.truth
        got = (
            self.last_ingest.quarantined,
            spark.read.parquet(self.matches_path).count(),
            spark.read.parquet(self.deliveries_path).count(),
        )
        want = (t["quarantined"], t["matches"], t["deliveries"])
        return None if got == want else f"(quarantined, matches, deliveries) {got} != {want}"

    def written(self) -> tuple[int, int]:
        """(bytes, parquet files) under the written collections."""
        nbytes = files = 0
        for d, _, fs in os.walk(self.out):
            for f in fs:
                if f.endswith(".parquet"):
                    nbytes += os.path.getsize(os.path.join(d, f))
                    files += 1
        return nbytes, files

    # -- the query mix ------------------------------------------------------
    def ops(self, rng: random.Random) -> list[Op]:
        """One ingest, then the query mix in the order ``rng`` picks,
        with parameters ``rng`` picks."""
        from cricket_analytics_nosql_spark.operators import cricket
        from cricket_analytics_nosql_spark.operators.graph import faced_edges
        from cricket_analytics_nosql_spark.plans.cypher import compile_cypher
        from cricket_analytics_nosql_spark.plans.mongo_pipeline import (
            compile_pipeline,
        )

        t = self.truth
        path = self.deliveries_path
        pairs = sorted(t["head_to_head"])
        batter, bowler = pairs[rng.randrange(len(pairs))]
        h2h = [tuple(t["head_to_head"][(batter, bowler)])]
        top = [r[0] for r in expected_runs_by_batter(t)]
        tough_batter = top[rng.randrange(len(top))]
        team = rng.choice(sorted({k[0] for k in t["team_pairs"]}))
        runs_by_batter = expected_runs_by_batter(t)
        toughest = expected_toughest(t, tough_batter)
        partners = expected_partnerships(t, team)
        rank = self.rank

        def dl(spark):
            return spark.read.parquet(path)

        def rows(cols):
            return lambda got: [tuple(r[c] for c in cols) for r in got]

        def expect(want, shape):
            return lambda got: _same(shape(got), want)

        h2h_cols = rows(["balls", "runs", "outs"])
        tough_rows = rows(["bowler", "balls", "runs", "strikeRate", "outs"])
        ops = [
            Op("mongo_runs_by_batter",
               lambda s: compile_pipeline(dl(s), MONGO_RUNS_BY_BATTER),
               check=expect(runs_by_batter, rows(
                   ["_id", "runs", "balls", "boundaries", "strikeRate",
                    "boundaryPct"]))),
            Op("mongo_head_to_head",
               lambda s: compile_pipeline(
                   dl(s), mongo_head_to_head(batter, bowler)),
               check=expect(h2h, h2h_cols)),
            Op("cypher_toughest_bowlers",
               lambda s: compile_cypher(
                   CYPHER_TOUGHEST, faced_edges(dl(s)),
                   {"batter": tough_batter}),
               check=lambda got: check_top_ties(
                   tough_rows(got), toughest, 10, lambda r: (r[3], -r[4]))),
            Op("cypher_pagerank",
               lambda s: compile_cypher(CYPHER_PAGERANK, faced_edges(dl(s))),
               check=lambda got: check_pagerank(
                   [(r["player"], r["score"]) for r in got], rank)),
            Op("batter_vs_bowler",
               lambda s: cricket.batter_vs_bowler(dl(s), batter, bowler),
               check=expect(h2h, h2h_cols)),
            Op("partnership_proxy",
               lambda s: cricket.partnership_proxy(
                   dl(s), team, min_co=MIN_CO, limit=20),
               check=expect(partners[:20], lambda got: [tuple(r) for r in got])),
        ]
        for op in ops:
            if op.name.startswith(("mongo_", "cypher_")):
                op.layer = "plans"
        rng.shuffle(ops)
        ingest = Op("ingest", lambda s: self.ingest(s, self.observe),
                    input_rows=t["rows_in"], layer="etl")
        return [ingest] + ops


WORKLOADS = {
    w.name: w for w in (Catalog, CricketReference)
}
