"""Seeded input generators with planted truth.

The program under test never sees the generators, only the records they
write. ``make_season`` plants team strengths, a balanced schedule and
possession-by-possession plays whose true play kind, possession boundaries
and box scores are recorded beside them. ``write_tpch`` writes the two TPC-H
tables the registry's solver queries read, from DuckDB's TPC-H generator.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass

import numpy as np
import pandas as pd

SEASON_START = dt.date(2025, 11, 3)

#: play texts per true kind. The missed free throw carries no "N of M" count:
#: the classifier labels "missed Free Throw 2 of 2" made_last_ft (see
#: ``probe_game``, which keeps that fault visible).
_TEXTS = {
    "made_shot2": ["{p} made Jumper", "{p} made Layup", "{p} made Dunk"],
    "made_shot3": ["{p} made Three Point Jumper"],
    "missed_shot2": ["{p} missed Jumper", "{p} missed Layup"],
    "missed_shot3": ["{p} missed Three Point Jumper"],
    "turnover": ["{p} Turnover", "{p} Traveling", "{p} Bad Pass"],
    "defensive_rebound": ["{p} Defensive Rebound"],
    "offensive_rebound": ["{p} Offensive Rebound"],
    "made_ft": ["{p} made Free Throw 1 of 2"],
    "made_last_ft": ["{p} made Free Throw 2 of 2"],
    "missed_ft": ["{p} missed Free Throw"],
    "other": ["Timeout", "Foul on {p}"],
}
_NAMES = ["Adams", "Baker", "Chen", "Diaz", "Evans", "Ford", "Grant", "Hughes",
          "Ibarra", "Jones", "Kato", "Lopez", "Moore", "Nash", "Ortiz", "Price"]


@dataclass
class Season:
    """A generated season and its planted truth."""

    days: list[dt.date]
    #: team_id -> (offense, defense) strength in points per 100 possessions
    strength: dict[int, tuple[float, float]]
    #: one row per game: game_id, game_date, home_team_id, away_team_id,
    #: home_points, away_points, book_spread
    games: pd.DataFrame
    #: one row per play, in true order: the play columns the program reads
    #: plus true_kind, true_offense, true_end
    plays: pd.DataFrame
    #: the raw feed of every day, see :func:`raw_records`
    raw: pd.DataFrame


def _play_rows(game_id, date, home, away, strength, rng, first_play_id):
    """Simulate one game as possession-by-possession plays.

    Each half ends on an open possession (a missed shot at the buzzer, then
    "End of Half"/"End of Game"), so every possession ends exactly once;
    ``probe_game`` covers the half that ends on a closed possession.
    """
    rows = []
    score = {home: 0, away: 0}
    pid = first_play_id
    offense = home if rng.random() < 0.5 else away
    clock = 1200.0

    def add(period, team, kind, text, value, off, end):
        nonlocal pid
        if value:
            score[team] += value
        rows.append((game_id, pid, period, round(max(clock, 0.1), 1), team,
                     text.format(p=rng.choice(_NAMES)), float(value),
                     float(score[home]), float(score[away]), date,
                     None if team is None else team == home, kind, off, end))
        pid += 1

    def play(period, team, kind, value, off, end, text_kind=None):
        add(period, team, kind, rng.choice(_TEXTS[text_kind or kind]), value, off, end)

    for period in (1, 2):
        clock = 1200.0
        n_poss = 32 + int(rng.random() * 6)
        step = 1200.0 / (n_poss + 1) / 4
        for k in range(n_poss):
            defense = away if offense == home else home
            o_str = strength[offense][0] - strength[defense][1]
            if rng.random() < 0.05:
                play(period, offense, "other", 0, offense, False)
            while True:
                clock -= step
                if k == n_poss - 1:  # the buzzer beats the last shot
                    play(period, offense, "missed_shot", 0, offense, False, "missed_shot3")
                    break
                if rng.random() < 0.15:
                    play(period, offense, "turnover", 0, offense, True)
                    break
                if rng.random() < 0.08:  # shooting foul: two free throws
                    ft1 = rng.random() < 0.72
                    play(period, offense, "made_ft" if ft1 else "missed_ft", int(ft1),
                         offense, False)
                    if rng.random() < 0.72:
                        play(period, offense, "made_last_ft", 1, offense, True)
                        break
                    play(period, offense, "missed_ft", 0, offense, False)
                else:
                    three = rng.random() < 0.35
                    p_make = (0.35 if three else 0.50) + o_str / 200.0
                    suffix = "3" if three else "2"
                    if rng.random() < p_make:
                        play(period, offense, "made_shot", 3 if three else 2, offense, True,
                             "made_shot" + suffix)
                        break
                    play(period, offense, "missed_shot", 0, offense, False,
                         "missed_shot" + suffix)
                clock -= 0.5
                if rng.random() < 0.28:
                    play(period, offense, "offensive_rebound", 0, offense, False)
                    continue
                # the rebounder's play closes the offense's possession
                play(period, defense, "defensive_rebound", 0, offense, True)
                break
            if k < n_poss - 1:
                offense = defense
        clock = 0.0
        add(period, None, "period_end", "End of Half" if period == 1 else "End of Game",
            0, offense, True)
        offense = away if offense == home else home
    return rows, pid


@dataclass
class Results:
    """Game results without plays: planted strengths and one row per
    team-game (game_date, team_id, opp_id, off_eff, is_home)."""

    strength: dict[int, tuple[float, float]]
    obs: pd.DataFrame


def make_results(seed: int, n_teams: int = 360, n_days: int = 60,
                 games_per_day: int = 24, noise: float = 12.0) -> Results:
    """A season of per-game offensive efficiencies: 100 plus the offense's
    strength minus the defense's, plus Gaussian noise."""
    rng = random.Random(seed)
    teams = list(range(1, n_teams + 1))
    strength = {t: (rng.gauss(0.0, 8.0), rng.gauss(0.0, 8.0)) for t in teams}
    days = [SEASON_START + dt.timedelta(days=d) for d in range(n_days)]
    rows = []
    for _gid, date, home, away in _schedule(rng, teams, days, games_per_day):
        for team, opp in ((home, away), (away, home)):
            eff = 100.0 + strength[team][0] - strength[opp][1] + rng.gauss(0.0, noise)
            rows.append((date, team, opp, eff, team == home))
    obs = pd.DataFrame(rows, columns=["game_date", "team_id", "opp_id", "off_eff", "is_home"])
    return Results(strength, obs)


PLAY_COLUMNS = [
    "game_id", "play_id", "period", "seconds_remaining", "team_id", "play_text",
    "score_value", "home_score", "away_score", "game_date", "is_home",
    "true_kind", "true_offense", "true_end",
]


def _schedule(rng, teams, days, games_per_day):
    """Balanced schedule: each day the ``2 * games_per_day`` teams with the
    fewest games so far play, paired at random. Yields (game_id, date,
    home, away)."""
    played = {t: 0 for t in teams}
    gid = 1
    for date in days:
        order = sorted(teams, key=lambda t: (played[t], rng.random()))
        today = order[: 2 * games_per_day]
        rng.shuffle(today)
        for i in range(games_per_day):
            home, away = today[2 * i], today[2 * i + 1]
            played[home] += 1
            played[away] += 1
            yield gid, date, home, away
            gid += 1


def make_season(seed: int, n_teams: int = 32, n_days: int = 8,
                games_per_day: int = 16) -> Season:
    """Plant strengths, schedule a balanced season and simulate its plays."""
    rng = random.Random(seed)
    teams = list(range(1, n_teams + 1))
    strength = {t: (rng.gauss(0.0, 8.0), rng.gauss(0.0, 8.0)) for t in teams}
    days = [SEASON_START + dt.timedelta(days=d) for d in range(n_days)]
    game_rows, play_rows = [], []
    pid = 1
    for gid, date, home, away in _schedule(rng, teams, days, games_per_day):
        rows, pid = _play_rows(gid, date, home, away, strength, rng, pid)
        play_rows.extend(rows)
        hp, ap = rows[-1][7], rows[-1][8]
        expect = (strength[home][0] - strength[away][1]) - (
            strength[away][0] - strength[home][1])
        book = -round((expect * 0.7 + rng.gauss(0.0, 3.0)) * 2) / 2
        game_rows.append((gid, date, home, away, hp, ap, book))
    games = pd.DataFrame(game_rows, columns=[
        "game_id", "game_date", "home_team_id", "away_team_id",
        "home_points", "away_points", "book_spread"])
    plays = pd.DataFrame(play_rows, columns=PLAY_COLUMNS)
    return Season(days, strength, games, plays, raw_records(plays, rng))


#: key spellings the raw feed uses; the benchmark's TableSpec aliases resolve them
ALIASES = {
    "game_id": ("game_id", "gameId"),
    "play_id": ("play_id", "id"),
    "seconds_remaining": ("seconds_remaining", "clock"),
    "team_id": ("team_id", "teamId"),
    "play_text": ("play_text", "text"),
    "score_value": ("score_value", "scoreValue"),
    "home_score": ("home_score", "homeScore"),
    "away_score": ("away_score", "awayScore"),
    "game_date": ("game_date", "gameDate"),
    "is_home": ("is_home", "isHome"),
}


def raw_records(plays: pd.DataFrame, rng: random.Random,
                resend: float = 0.03) -> pd.DataFrame:
    """The raw feed: every play once plus about ``resend`` of them re-sent
    later in the same day's batch, each with an arrival sequence number,
    random key spellings and numbers sometimes sent as strings. The
    ``game_date`` column is kept unaliased as ``_day`` to split the batches."""
    g = np.random.default_rng(rng.getrandbits(32))
    n = len(plays)
    idx = np.concatenate([np.arange(n), np.flatnonzero(g.random(n) < resend)])
    rows = plays.iloc[idx, :11].reset_index(drop=True)
    rows = rows.iloc[np.argsort(rows["game_date"].to_numpy(), kind="stable")]
    rows = rows.reset_index(drop=True)
    m = len(rows)
    out = {"_day": rows["game_date"].to_numpy()}
    for col in PLAY_COLUMNS[:11]:
        vals = rows[col].to_numpy(dtype=object)
        if col == "game_date":
            vals = np.array([d.isoformat() for d in vals], dtype=object)
        elif col == "is_home":
            spell = g.random(m) < 0.5
            vals = np.array([None if v is None else ("true" if spell[i] else "1") if v
                             else ("false" if spell[i] else "0") for i, v in enumerate(vals)],
                            dtype=object)
        elif col != "play_text":
            as_str = g.random(m) < 0.3
            vals = np.array([None if v is None or v != v else
                             (f"{float(v)}" if as_str[i] else v) for i, v in enumerate(vals)],
                            dtype=object)
        if col in ALIASES:
            alias = g.random(m) < 0.5
            out[col] = np.where(alias, None, vals)
            out[ALIASES[col][1]] = np.where(alias, vals, None)
        else:
            out[col] = vals
    out["ingest_seq"] = np.arange(1, m + 1, dtype=np.int64)
    return pd.DataFrame(out)


def write_raw_day(raw: pd.DataFrame, day: dt.date, path: str) -> None:
    """Write one day's raw batch as JSON lines."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    raw[raw["_day"] == day].drop(columns="_day").to_json(path, orient="records", lines=True)


#: A fixed game, the same for every seed, that shows two classifier and
#: sessionizer faults: a missed last free throw written "missed Free Throw
#: 2 of 2" (labelled made_last_ft, so it ends the possession), and a half
#: that ends right after a made basket (the period-end play closes the
#: already closed possession a second time).
_PROBE = [
    # game, play, period, clock, team, text, value, home, away, date, is_home,
    # true_kind, true_offense, true_end
    (9, 1, 1, 1190.0, 1, "Adams missed Free Throw 1 of 2", 0.0, 0.0, 0.0, SEASON_START,
     True, "missed_ft", 1, False),
    (9, 2, 1, 1190.0, 1, "Adams missed Free Throw 2 of 2", 0.0, 0.0, 0.0, SEASON_START,
     True, "missed_ft", 1, False),
    (9, 3, 1, 1180.0, 2, "Baker Defensive Rebound", 0.0, 0.0, 0.0, SEASON_START,
     False, "defensive_rebound", 1, True),
    (9, 4, 1, 1170.0, 2, "Baker made Layup", 2.0, 0.0, 2.0, SEASON_START,
     False, "made_shot", 2, True),
    (9, 5, 1, 0.0, None, "End of Half", 0.0, 0.0, 2.0, SEASON_START,
     None, "period_end", 2, False),
]


def probe_game() -> pd.DataFrame:
    """The probe game with its truth columns."""
    return pd.DataFrame(_PROBE, columns=PLAY_COLUMNS)


def probe_rows() -> list[tuple]:
    """The probe game's program-facing columns as plain tuples."""
    return [r[:11] for r in _PROBE]


# --------------------------------------------------------------------------
# graphs and TPC-H tables for the solvers
# --------------------------------------------------------------------------


def planted_paths(seed: int, n_paths: int = 256, length: int = 4):
    """An edge list of ``n_paths`` disjoint paths of ``length`` nodes over a
    seeded permutation of the node ids, each edge in a random direction.
    Returns the edges (src, dst) and each node's component: the smallest id
    on its path."""
    g = np.random.default_rng(seed)
    ids = g.permutation(n_paths * length).reshape(n_paths, length).astype("int64")
    a, b = ids[:, :-1].ravel(), ids[:, 1:].ravel()
    flip = g.random(len(a)) < 0.5
    edges = pd.DataFrame({"src": np.where(flip, b, a), "dst": np.where(flip, a, b)})
    truth = {int(n): int(path.min()) for path in ids for n in path}
    return edges, truth


#: the columns, and their types, of the repository's TPC-H test tables
TPCH_COLUMNS = {
    "orders": "o_orderkey, o_custkey, o_orderstatus, "
              "CAST(o_totalprice AS DOUBLE) AS o_totalprice, "
              "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_orderpriority",
    "lineitem": "l_orderkey, l_partkey, l_suppkey, "
                "CAST(l_linenumber AS INTEGER) AS l_linenumber, "
                "CAST(l_quantity AS DOUBLE) AS l_quantity, "
                "CAST(l_extendedprice AS DOUBLE) AS l_extendedprice, "
                "CAST(l_discount AS DOUBLE) AS l_discount, "
                "CAST(l_tax AS DOUBLE) AS l_tax, l_returnflag, l_linestatus, "
                "CAST(l_shipdate AS TIMESTAMP) AS l_shipdate",
}


def write_tpch(sf_dir: str, sf: float) -> None:
    """Write TPC-H ``orders`` and ``lineitem`` at scale factor ``sf`` as
    ``<sf_dir>/<table>.parquet``, made by DuckDB's built-in TPC-H generator
    (``dbgen``, deterministic: the same tables every time), with the columns
    and types of the repository's TPC-H test tables."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"CALL dbgen(sf={sf})")
        for table, cols in TPCH_COLUMNS.items():
            con.execute(f"COPY (SELECT {cols} FROM {table}) TO "
                        f"'{sf_dir}/{table}.parquet' (FORMAT parquet)")
    finally:
        con.close()
