"""Cypher front-end tests: the reference's EXACT Cypher statements
(cypher_queries.cypher a/b/c/e, quoted verbatim) compiled onto the
duel-graph edge DataFrame must agree with the native DataFrame twins
in operators/cricket.py and operators/graph.py — the Neo4j sibling
of the "run your existing pipelines unchanged" guarantee."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from cricket_analytics_nosql_spark.operators.cricket import (
    batter_vs_bowler,
    partnership_proxy,
    toughest_bowlers,
)
from cricket_analytics_nosql_spark.operators.graph import (
    faced_edges,
    player_pagerank,
)
from cricket_analytics_nosql_spark.plans.cypher import compile_cypher

BATTERS = [f"Bat{i}" for i in range(12)]
BOWLERS = [f"Bowl{i}" for i in range(6)]


@pytest.fixture(scope="module")
def deliveries(spark):
    """3000 synthetic deliveries, unique per MERGE key (over is the
    row index) so faced_edges is 1:1 with deliveries and the edge
    frame agrees with the raw-deliveries twins."""
    rng = random.Random(17)
    rows = []
    for i in range(3000):
        batter = rng.choice(BATTERS)
        rows.append(
            (
                "M1",
                1,
                "TeamA" if BATTERS.index(batter) < 6 else "TeamB",
                i,
                1,
                batter,
                rng.choice(BOWLERS),
                rng.randint(0, 6),
                [("x", "bowled")] if rng.random() < 0.05 else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "matchId string, innings int, battingTeam string, over int, "
        "ball int, batter string, bowler string, runs_total int, "
        "wickets array<struct<player_out:string,kind:string>>",
    )


@pytest.fixture(scope="module")
def edges(deliveries):
    return faced_edges(deliveries)


def test_cypher_a_head_to_head(deliveries, edges):
    """cypher_queries.cypher:4-8, verbatim."""
    q = """
    MATCH (bat:Player {name:$batter})-[r:FACED]->(bow:Player {name:$bowler})
    RETURN count(r) AS balls,
           sum(r.runs) AS runs,
           sum(CASE WHEN r.isWicket THEN 1 ELSE 0 END) AS outs;
    """
    got = compile_cypher(
        q, edges, params={"batter": "Bat3", "bowler": "Bowl2"}
    ).collect()[0]
    want = batter_vs_bowler(deliveries, "Bat3", "Bowl2").collect()[0]
    assert (got.balls, got.runs, got.outs) == (
        want.balls,
        want.runs,
        want.outs,
    )
    assert got.balls > 0


def test_cypher_b_toughest_bowlers(deliveries, edges):
    """cypher_queries.cypher:10-16, verbatim."""
    q = """
    MATCH (bat:Player {name:$batter})-[r:FACED]->(bow:Player)
    WITH bow, count(r) AS balls, sum(r.runs) AS runs, sum(CASE WHEN r.isWicket THEN 1 ELSE 0 END) AS outs
    WHERE balls >= 30
    RETURN bow.name AS bowler, balls, runs, (toFloat(runs)/balls)*100 AS strikeRate, outs
    ORDER BY strikeRate ASC, outs DESC
    LIMIT 10
    """
    got = compile_cypher(q, edges, params={"batter": "Bat1"}).collect()
    want = toughest_bowlers(deliveries, "Bat1", min_balls=30).collect()
    key = lambda r: (  # noqa: E731
        r.bowler, r.balls, r.runs, round(r.strikeRate, 9), r.outs
    )
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(got) > 0


def test_cypher_c_partnership(deliveries, edges):
    """cypher_queries.cypher:18-25, verbatim."""
    q = """
    MATCH (a:Player)-[r:FACED]->(bow:Player)<-[s:FACED]-(b:Player)
    WHERE a <> b AND r.team = $team AND s.team = $team
    WITH a,b, count(*) AS co_appearances
    WHERE co_appearances >= 20
    RETURN a.name, b.name, co_appearances
    ORDER BY co_appearances DESC
    LIMIT 20
    """
    got = compile_cypher(q, edges, params={"team": "TeamA"})
    want = partnership_proxy(deliveries, "TeamA", min_co=20, limit=20)
    g = sorted(tuple(r) for r in got.collect())
    w = sorted(tuple(r) for r in want.collect())
    assert g == w
    assert len(g) > 0


def test_cypher_e_pagerank(deliveries, edges):
    """cypher_queries.cypher:31-34, verbatim — routed to the
    DataFrame PageRank."""
    q = """
    CALL gds.pageRank.stream('duels')
    YIELD nodeId, score
    RETURN gds.util.asNode(nodeId).name AS player, score
    ORDER BY score DESC LIMIT 20
    """
    got = compile_cypher(q, edges).collect()
    want = player_pagerank(deliveries).collect()
    assert [r.player for r in got] == [r.id for r in want]
    for g, w in zip(got, want):
        assert g.score == pytest.approx(w.pagerank, abs=1e-6)


def test_cypher_pagerank_job_budget_and_session_conf(spark, edges):
    """gds.pageRank on the cricket fixture fits the per-task edge
    budget, so its power series runs inside one task: the whole call,
    collect included, runs at most 8 jobs (the distributed loop ran
    two per round), and it leaves the session conf as it found it."""
    q = """
    CALL gds.pageRank.stream('duels')
    YIELD nodeId, score
    RETURN gds.util.asNode(nodeId).name AS player, score
    ORDER BY score DESC LIMIT 20
    """
    sc = spark.sparkContext
    tag = "test_cypher_pagerank_job_budget"
    before = spark.conf.getAll
    sc.addJobTag(tag)
    try:
        rows = compile_cypher(q, edges).collect()
    finally:
        sc.removeJobTag(tag)
    jobs = sc._jsc.sc().statusTracker().getJobIdsForTag(tag)
    assert len(rows) == len(BATTERS) + len(BOWLERS)
    assert 0 < len(jobs) <= 8, len(jobs)
    assert spark.conf.getAll == before


def test_cypher_d_graph_project(edges):
    """cypher_queries.cypher:28 — the projection is the collapsed
    weighted edge frame (G1)."""
    q = "CALL gds.graph.project('duels','Player','FACED', {relationshipProperties:['runs','isWicket']});"
    got = compile_cypher(q, edges)
    assert set(got.columns) == {"src", "dst", "weight"}
    assert (
        got.agg(F.sum("weight")).collect()[0][0] == edges.count()
    )


def test_cypher_rejects_unsupported(spark, edges):
    with pytest.raises(ValueError):
        compile_cypher("MATCH (a)-[r:T*1..3]->(b) RETURN a", edges)
    with pytest.raises(ValueError, match="parameter"):
        compile_cypher(
            "MATCH (a:P {name:$missing})-[r:T]->(b:P) RETURN count(r) AS n",
            edges,
        )


def test_cypher_order_of_clauses_and_params(spark, edges):
    """WHERE on the pattern frame + arithmetic + param in WHERE."""
    q = """
    MATCH (a:Player)-[r:FACED]->(b:Player)
    WHERE r.runs >= $min_runs
    WITH b, count(r) AS n
    RETURN b.name AS bowler, n
    ORDER BY n DESC, bowler ASC
    LIMIT 3
    """
    got = compile_cypher(q, edges, params={"min_runs": 4})
    want = (
        edges.filter(F.col("runs") >= 4)
        .groupBy(F.col("dst").alias("bowler"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bowler"))
        .limit(3)
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]


def test_cli_cypher_subcommand(spark, tmp_path):
    """CLI: etl a warehouse, then run a reference-shaped Cypher
    statement against its duel graph with a bound parameter."""
    from cricket_analytics_nosql_spark.cli import main
    from cricket_analytics_nosql_spark.sources.cricket_fixtures import (
        write_demo_dir,
    )

    wh = str(tmp_path / "wh")
    assert main(["etl", "--data-dir", write_demo_dir(), "--out", wh]) == 0
    q = (
        "MATCH (bat:Player {name:$batter})-[r:FACED]->(bow:Player) "
        "RETURN count(r) AS balls, sum(r.runs) AS runs"
    )
    assert main(
        ["cypher", "--warehouse", wh, "--query", q,
         "--param", "batter=V Kohli"]
    ) == 0


def test_unaliased_dotted_items_roundtrip(spark, edges):
    """`WITH a.name, count(*)` yields a column literally named
    'a.name'; later references and ORDER BY must resolve it (backtick
    handling) instead of treating the dot as struct access."""
    q = """
    MATCH (a:Player)-[r:FACED]->(b:Player)
    WITH a.name, count(r) AS n
    RETURN a.name, n
    ORDER BY n DESC, a.name ASC
    LIMIT 5
    """
    got = compile_cypher(q, edges)
    assert got.columns == ["a.name", "n"]
    rows = got.collect()
    assert len(rows) == 5 and rows[0].n >= rows[-1].n


def test_optional_match_left_join_semantics(spark, edges):
    """OPTIONAL MATCH keeps non-matching rows with nulls: every
    batter appears, count(s) is 0 where the optional pattern (facing
    a specific bowler for >= 6 runs) found nothing, and sum skips
    the nulls."""
    q = """
    MATCH (a:Player)-[r:FACED]->(x:Player)
    OPTIONAL MATCH (a)-[s:FACED]->(star:Player {name:'Bowl0'})
    WHERE s.runs >= 6
    WITH a, count(r) AS pairs, count(s) AS star_hits, sum(s.runs) AS star_runs
    RETURN a.name AS batter, pairs, star_hits, star_runs
    ORDER BY batter ASC
    """
    got = {r.batter: (r.star_hits, r.star_runs) for r in
           compile_cypher(q, edges).collect()}
    # twin: per batter, the number of >=6-run deliveries to Bowl0
    want = {
        r.src: (r.n, r.tot)
        for r in edges.filter(
            (F.col("dst") == "Bowl0") & (F.col("runs") >= 6)
        )
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("runs").alias("tot"))
        .collect()
    }
    all_batters = {r.src for r in edges.select("src").distinct().collect()}
    assert set(got) == all_batters  # nobody dropped
    for b in all_batters:
        wn, wt = want.get(b, (0, None))
        # optional multiplicity: each mandatory row of `a` repeats the
        # optional matches, so counts scale by the batter's pair rows
        pairs = [r for r in compile_cypher(
            "MATCH (a:Player)-[r:FACED]->(x:Player) WITH a, count(r) AS p "
            "RETURN a.name AS b, p", edges).collect() if r.b == b][0].p
        assert got[b][0] == wn * pairs
        assert got[b][1] == (wt * pairs if wt is not None else None)


def test_optional_match_anonymous_rels_join_on_nodes_only(edges):
    """Both patterns use an anonymous relationship (internally both
    __r0): the left join must key on the shared NODE variable only,
    never on the edge marker/property columns (which would demand the
    optional edge's payload equal the mandatory one's)."""
    q = """
    MATCH (a:Player)-[r:FACED]->(x:Player)
    OPTIONAL MATCH (a)-->(s:Player {name:'Bowl0'})
    WITH a, count(r) AS outs, count(s) AS to_bowl0
    RETURN a.name AS player, outs, to_bowl0
    ORDER BY player
    """
    got = {r.player: (r.outs, r.to_bowl0) for r in compile_cypher(q, edges).collect()}
    # ground truth straight off the edge frame
    import pyspark.sql.functions as F
    outs = {r.src: r.n for r in edges.groupBy("src").agg(F.count("*").alias("n")).collect()}
    b0 = {r.src: r.n for r in edges.filter(F.col("dst") == "Bowl0")
          .groupBy("src").agg(F.count("*").alias("n")).collect()}
    for player, (o, t) in got.items():
        # every (mandatory-row, optional-match) pair survives the join:
        # outs multiplies by matches to Bowl0 when present
        want_outs = outs[player] * max(b0.get(player, 0), 1)
        want_t = outs[player] * b0.get(player, 0)
        assert (o, t) == (want_outs, want_t), (player, o, t, want_outs, want_t)
    assert any(v[1] > 0 for v in got.values())  # some batter faced Bowl0


def test_aggregate_inside_tofloat_detected(edges):
    """toFloat(sum(...)) must be classified as an aggregate item
    (regression: _has_agg didn't recurse into argument lists)."""
    q = """
    MATCH (a:Player)-[r:FACED]->(b:Player)
    WITH b, toFloat(sum(r.runs)) AS runs
    RETURN b.name AS bowler, runs
    ORDER BY bowler
    """
    got = {r.bowler: r.runs for r in compile_cypher(q, edges).collect()}
    import pyspark.sql.functions as F
    want = {r.dst: float(r.s) for r in
            edges.groupBy("dst").agg(F.sum("runs").alias("s")).collect()}
    assert got == want and all(isinstance(v, float) for v in got.values())


def test_varlength_path_counts_hand_graph(spark):
    """Row-per-path semantics on a diamond: a→{b,c}→d gives two
    2-hop paths a⇒d; *1..2 returns 1-hop and 2-hop rows together."""
    import pyspark.sql.functions as F  # noqa: F401

    from cricket_analytics_nosql_spark.plans.cypher import compile_cypher

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    got = {
        (r.dest, r.n_paths)
        for r in compile_cypher(
            """
            MATCH (a {name: 1})-[:E*1..2]->(b)
            RETURN b.name AS dest, count(*) AS n_paths
            """,
            edges,
        ).collect()
    }
    assert got == {(2, 1), (3, 1), (4, 2)}

    only2 = {
        (r.dest, r.n_paths)
        for r in compile_cypher(
            """
            MATCH (a {name: 1})-[:E*2..2]->(b)
            RETURN b.name AS dest, count(*) AS n_paths
            """,
            edges,
        ).collect()
    }
    assert only2 == {(4, 2)}


def test_varlength_refusals(spark):
    import pytest

    from cricket_analytics_nosql_spark.plans.cypher import compile_cypher

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="unbounded"):
        compile_cypher(
            "MATCH (a)-[:E*]->(b) RETURN count(*) AS n", edges
        )
    with pytest.raises(ValueError, match="bind a variable"):
        compile_cypher(
            "MATCH (a)-[r:E*1..2]->(b) RETURN count(*) AS n", edges
        )
    with pytest.raises(ValueError, match="bounds"):
        compile_cypher(
            "MATCH (a)-[:E*3..2]->(b) RETURN count(*) AS n", edges
        )


def test_varlength_maxlen_refusal_and_selfloop_uniqueness(spark):
    import pytest

    from cricket_analytics_nosql_spark.plans.cypher import compile_cypher

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="at most"):
        compile_cypher(
            "MATCH (a)-[:E*1..3]->(b) RETURN count(*) AS n", edges
        )

    # self-loop: 1→1→1 would reuse the same relationship — Cypher
    # excludes it, so only the 1-hop path remains
    loop = spark.createDataFrame([(1, 1)], "src long, dst long")
    got = compile_cypher(
        "MATCH (a {name: 1})-[:E*1..2]->(b) RETURN count(*) AS n", loop
    ).collect()[0].n
    assert got == 1
