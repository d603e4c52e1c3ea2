"""Seeded Cricsheet-style dump generator with its own ground truth.

``generate(out_dir, seed, n_matches)`` writes one JSON file per match in
the shapes the ETL defends against, and returns the answers the ETL and
the reference queries must reproduce, computed in the same pass:

- v1.0.0 files use ``striker``/``nonStriker`` and the dict-form
  ``wicket``; v1.1.0 files use ``batter``/``non_striker`` and the list
  form ``wickets``;
- innings are labelled by ``innings``, by ``number`` or only by ``team``;
- some matches omit ``runs.total`` (total = batter + extras);
- some matches omit ``ball`` on the first delivery of every over, so the
  delivery key ``(matchId, innings, over, ball)`` stays unique;
- about 1% of the files are truncated JSON (quarantined);
- 3% of the matches are delivered twice, the second copy revised (venue,
  officials, data version) with identical deliveries, so the upsert key
  collapses them.

The match structure (who plays whom, who faces whom, wides, wickets and
strike rotation) comes from the fixed ``SHAPE_SEED``, so every dump has
the same delivery rows and the same duel graph, and a pass does the same
work whatever the seed. ``seed`` sets the rest: the runs of each ball
(within the parity the structure fixed), extras, wicket kinds, which
drift each file carries, outcomes, revisions and match ids.

The files are byte-identical for a given ``(seed, n_matches)``.
"""

from __future__ import annotations

import json
import os
import random
from collections import defaultdict

TEAMS = [
    "Avalon", "Borealis", "Cascadia", "Dunmore",
    "Elmshire", "Fairhaven", "Glenrock", "Highmoor",
]
VENUES = ["Oval", "Park", "Stadium", "Ground", "Arena"]
KINDS = ["bowled", "caught", "lbw", "run out", "stumped"]
SHAPE_SEED = 20231
# batter runs per legal delivery: 0 1 2 3 4 6, split by parity (an odd
# score rotates the strike)
ODD_SHARE = 0.32
ODD_RUNS, ODD_WEIGHTS = [1, 3], [30, 2]
EVEN_RUNS, EVEN_WEIGHTS = [0, 2, 4, 6], [40, 10, 12, 6]


def players(team: str) -> list[str]:
    return [f"{team[:3].upper()} Player{p:02d}" for p in range(1, 12)]


def _innings(shape: random.Random, rng: random.Random, bat: str, bowl: str,
             n_overs: int, style: dict) -> tuple[dict, list[dict]]:
    """One innings document plus its flattened delivery rows."""
    order = players(bat)
    bowlers = players(bowl)[6:]
    striker, non_striker, next_in = order[0], order[1], 2
    overs, rows = [], []
    out = False
    for ov in range(n_overs):
        bowler = bowlers[ov % len(bowlers)]
        deliveries = []
        legal = 0
        while legal < 6 and not out:
            wide = shape.random() < 0.04
            wicket = None
            if wide:
                runs_batter, extras = 0, 1
            elif shape.random() < 0.045:
                runs_batter, extras = 0, 0
                wicket = {"player_out": striker, "kind": rng.choice(KINDS)}
            else:
                if shape.random() < ODD_SHARE:
                    runs_batter = rng.choices(ODD_RUNS, ODD_WEIGHTS)[0]
                else:
                    runs_batter = rng.choices(EVEN_RUNS, EVEN_WEIGHTS)[0]
                extras = 1 if rng.random() < 0.02 else 0
            d = {}
            if style["v1"]:
                d["striker"], d["nonStriker"] = striker, non_striker
            else:
                d["batter"], d["non_striker"] = striker, non_striker
            d["bowler"] = bowler
            ball = len(deliveries) + 1
            if not (style["no_ball_key"] and ball == 1):
                d["ball"] = ball
            runs = {"batter": runs_batter, "extras": extras}
            if not style["no_total"]:
                runs["total"] = runs_batter + extras
            d["runs"] = runs
            if wicket is not None:
                if style["v1"]:
                    d["wicket"] = wicket
                else:
                    d["wickets"] = [wicket]
            deliveries.append(d)
            rows.append({
                "ball": ball if "ball" in d else None,
                "over": ov,
                "batter": striker,
                "bowler": bowler,
                "runs_batter": runs_batter,
                "runs_total": runs_batter + extras,
                "out": wicket is not None,
            })
            if not wide:
                legal += 1
            if wicket is not None:
                if next_in >= len(order):
                    out = True
                else:
                    striker, next_in = order[next_in], next_in + 1
            elif runs_batter % 2 == 1:
                striker, non_striker = non_striker, striker
        overs.append({"over": ov, "deliveries": deliveries})
        striker, non_striker = non_striker, striker
        if out:
            break
    doc: dict = {"team": bat}
    if style["label"] == "innings":
        doc["innings"] = style["n"]
    elif style["label"] == "number":
        doc["number"] = style["n"]
    doc["overs"] = overs
    label = str(style["n"]) if style["label"] != "team" else bat
    for r in rows:
        r["innings"], r["team"] = label, bat
    return doc, rows


def generate(out_dir: str, seed: int, n_matches: int = 120,
             n_overs: int = 20) -> dict:
    """Write the dump and return its ground truth (see module doc)."""
    shape = random.Random(SHAPE_SEED)
    rng = random.Random(seed)
    revised = set(rng.sample(range(n_matches), max(1, round(0.03 * n_matches))))
    os.makedirs(out_dir, exist_ok=True)
    files, input_bytes = 0, 0
    rows_in = 0
    unique: list[dict] = []
    match_ids = []
    n_dup = 0

    def put(name: str, text: str) -> None:
        nonlocal files, input_bytes
        with open(os.path.join(out_dir, name), "w") as f:
            f.write(text)
        files += 1
        input_bytes += len(text.encode())

    for i in range(n_matches):
        mid = f"{seed}{i:05d}"
        home, away = shape.sample(TEAMS, 2)
        v1 = rng.random() < 0.25
        label = rng.choice(["innings", "number", "team"])
        no_total = rng.random() < 0.15
        no_ball_key = rng.random() < 0.15
        info: dict = {
            "dates": [f"2023-{1 + i % 12:02d}-{1 + i % 28:02d}"],
            "team_type": "club",
            "match_type": "T20",
            "gender": rng.choice(["male", "female"]),
            "teams": [home, away],
            "venue": f"{home} {rng.choice(VENUES)}",
            "city": home,
            "officials": {"umpires": [f"Umpire {rng.randint(1, 30)}"]},
        }
        if v1:
            info["registry"] = {"match": mid}
        else:
            info["match_id"] = mid
        innings_docs, match_rows = [], []
        for n, (bat, bowl) in enumerate([(home, away), (away, home)], 1):
            style = {"v1": v1, "label": label, "n": n,
                     "no_total": no_total, "no_ball_key": no_ball_key}
            doc, rows = _innings(shape, rng, bat, bowl, n_overs, style)
            innings_docs.append(doc)
            match_rows.extend(rows)
        winner = rng.choice([home, away])
        info["outcome"] = (
            {"winner": winner, "by": {"runs": rng.randint(1, 60)}}
            if rng.random() < 0.5
            else {"winner": winner, "by": {"wickets": rng.randint(1, 9)}}
        )
        doc = {
            "meta": {"data_version": "1.0.0" if v1 else "1.1.0"},
            "info": info,
            "innings": innings_docs,
        }
        put(f"{mid}.json", json.dumps(doc))
        rows_in += len(match_rows)
        if i in revised:
            # re-delivered with revised metadata, identical deliveries
            rev = json.loads(json.dumps(doc))
            rev["meta"]["data_version"] += ".1"
            rev["info"]["venue"] += " (revised)"
            rev["info"]["officials"]["umpires"].append("Reserve Umpire")
            put(f"{mid}_rev.json", json.dumps(rev))
            rows_in += len(match_rows)
            n_dup += 1
        for r in match_rows:
            r["matchId"] = mid
        unique.extend(match_rows)
        match_ids.append(mid)

    n_corrupt = max(1, round(0.01 * files))
    for c in range(n_corrupt):
        text = json.dumps({"meta": {"data_version": "1.1.0"},
                           "info": {"match_id": f"corrupt{c}"}})
        put(f"corrupt_{seed}_{c}.json", text[: len(text) // 2])

    return _truth(unique, files, input_bytes, n_corrupt, rows_in,
                  len(match_ids), n_dup)


def _truth(rows: list[dict], files: int, input_bytes: int, n_corrupt: int,
           rows_in: int, n_matches: int, n_dup: int) -> dict:
    per_batter: dict[str, list[int]] = defaultdict(lambda: [0, 0, 0])
    h2h: dict[tuple[str, str], list[int]] = defaultdict(lambda: [0, 0, 0])
    team_pairs: dict[tuple[str, str, str], int] = defaultdict(int)
    for r in rows:
        b = per_batter[r["batter"]]
        b[0] += r["runs_batter"]
        b[1] += 1
        b[2] += r["runs_batter"] in (4, 6)
        h = h2h[(r["batter"], r["bowler"])]
        h[0] += 1
        h[1] += r["runs_total"]
        h[2] += r["out"]
        team_pairs[(r["team"], r["batter"], r["bowler"])] += 1
    return {
        "files": files,
        "input_bytes": input_bytes,
        "quarantined": n_corrupt,
        "matches": n_matches,
        "duplicates": n_dup,
        "rows_in": rows_in,
        "deliveries": len(rows),
        "per_batter": {k: tuple(v) for k, v in per_batter.items()},
        "head_to_head": {k: tuple(v) for k, v in h2h.items()},
        "team_pairs": dict(team_pairs),
    }
