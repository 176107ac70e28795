"""Output checks, made apart from the program.

Each check compares what a pass wrote against the generator's planted
truth, an independent recomputation or a DuckDB oracle, never against a
stored copy of an earlier output. A check returns a list of problems; an
empty list is a pass.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

#: Spearman correlation the final-date ratings must reach with the planted
#: net strengths (offense plus defense strength). Seeds 1-40 of the 64-team
#: season measure 0.52 to 0.81 (median 0.69) from the generator's own box
#: scores; the 360-team results season measures 0.85 to 0.90. Scrambled
#: ratings of 64 teams score 0 with a standard deviation of 0.13.
MIN_RANK_CORR = 0.35

BOX_COLUMNS = ["pts", "fga", "fgm", "fta", "ftm", "oreb", "dreb", "tov", "poss_event"]


def play_kinds(enriched: pd.DataFrame, truth: pd.DataFrame) -> list[str]:
    """Every generated play is present once, with the generator's kind."""
    m = truth[["game_id", "play_id", "true_kind"]].merge(
        enriched[["game_id", "play_id", "play_kind"]], on=["game_id", "play_id"],
        how="outer", indicator=True)
    problems = []
    if len(enriched) != len(truth):
        problems.append(f"enriched plays: {len(enriched)} rows, generated {len(truth)}")
    missing = (m["_merge"] != "both").sum()
    if missing:
        problems.append(f"{missing} plays present on one side only")
    bad = m[(m["_merge"] == "both") & (m["play_kind"] != m["true_kind"])]
    if len(bad):
        r = bad.iloc[0]
        problems.append(f"{len(bad)} play kinds differ, e.g. play {r.play_id}: "
                        f"{r.play_kind} vs {r.true_kind}")
    return problems


def possession_ends(enriched: pd.DataFrame, truth: pd.DataFrame) -> list[str]:
    """Possession ends per (game, offense team) equal the generator's count."""
    got = (enriched[enriched["possession_end"].astype(bool)]
           .groupby(["game_id", "offense_team_id"]).size())
    want = truth[truth["true_end"]].groupby(["game_id", "true_offense"]).size()
    want.index = want.index.set_names(["game_id", "offense_team_id"])
    diff = got.sub(want, fill_value=0)
    diff = diff[diff != 0]
    if len(diff):
        (g, t), d = next(iter(diff.items()))
        return [f"possession ends differ for {len(diff)} (game, team) pairs, "
                f"e.g. game {g} team {t} by {d:+.0f}"]
    return []


def garbage_time(p: pd.DataFrame) -> pd.Series:
    """Garbage time: second half or later, and a margin of at least 20 with
    at most ten minutes left or at least 15 with at most five."""
    margin = (p["home_score"] - p["away_score"]).abs()
    clock = p["seconds_remaining"]
    return (p["period"] >= 2) & (((margin >= 20) & (clock <= 600))
                                 | ((margin >= 15) & (clock <= 300)))


def box_scores(truth: pd.DataFrame, include_garbage: bool = True) -> pd.DataFrame:
    """Per (game, team) counting stats from the generator's labels."""
    p = truth if include_garbage else truth[~garbage_time(truth)]
    k = p["true_kind"]
    acting = p[p["team_id"].notna()].assign(team_id=lambda d: d["team_id"].astype("int64"))
    ka = acting["true_kind"]
    box = pd.DataFrame({
        "game_id": acting["game_id"], "team_id": acting["team_id"],
        "pts": acting["score_value"],
        "fga": ka.isin(["made_shot", "missed_shot"]).astype(int),
        "fgm": (ka == "made_shot").astype(int),
        "fta": ka.isin(["made_ft", "missed_ft", "made_last_ft"]).astype(int),
        "ftm": ka.isin(["made_ft", "made_last_ft"]).astype(int),
        "oreb": (ka == "offensive_rebound").astype(int),
        "dreb": (ka == "defensive_rebound").astype(int),
        "tov": (ka == "turnover").astype(int),
    }).groupby(["game_id", "team_id"]).sum()
    ends = p[p["true_end"] & k.notna()].groupby(["game_id", "true_offense"]).size()
    ends.index = ends.index.set_names(["game_id", "team_id"])
    box["poss_event"] = ends.reindex(box.index, fill_value=0)
    return box.reset_index()


def game_team_stats(gts: pd.DataFrame, truth: pd.DataFrame,
                    include_garbage: bool = True) -> list[str]:
    """Points and shot, rebound and turnover counts per game and team equal
    the generator's box scores."""
    want = box_scores(truth, include_garbage).set_index(["game_id", "team_id"])
    got = gts.set_index(["game_id", "team_id"])[BOX_COLUMNS].astype(float)
    if len(got) != len(want) or not got.index.sort_values().equals(want.index.sort_values()):
        return [f"game_team_stats: {len(got)} (game, team) rows, generated {len(want)}"]
    diff = (got.sort_index() - want[BOX_COLUMNS].sort_index()).abs().max()
    bad = diff[diff > 1e-9]
    return [f"game_team_stats column {c} differs by up to {v}" for c, v in bad.items()]


def rollup(roll: pd.DataFrame, gts: pd.DataFrame) -> list[str]:
    """One row per team and day from its first game to the league's last
    game date, and cumulative columns that never decrease."""
    problems = []
    dates = pd.to_datetime(gts["game_date"])
    last = dates.max()
    first = dates.groupby(gts["team_id"]).min()
    want = int(((last - first).dt.days + 1).sum())
    if len(roll) != want:
        problems.append(f"rollup has {len(roll)} rows, expected {want}")
    r = roll.sort_values(["team_id", "day"])
    cum = [c for c in r.columns if c.startswith("cum_")]
    step = r.groupby("team_id")[cum].diff()
    if (step < -1e-9).any().any():
        problems.append("a cumulative rollup column decreases")
    final = r.groupby("team_id")["cum_pts"].last()
    pts = gts.groupby("team_id")["pts"].sum()
    if not np.allclose(final.reindex(pts.index).to_numpy(), pts.to_numpy()):
        problems.append("final cum_pts differs from the season's points")
    return problems


def observations(box: pd.DataFrame, games: pd.DataFrame, before) -> pd.DataFrame:
    """The solver's input recomputed from the generator's box scores: one row
    per team-game before ``before``, with off_eff = 100 pts / possessions."""
    b = box.merge(games[["game_id", "game_date", "home_team_id", "away_team_id"]],
                  on="game_id")
    b = b[pd.to_datetime(b["game_date"]) < pd.Timestamp(before)]
    b = b.assign(
        opp=np.where(b["team_id"] == b["home_team_id"], b["away_team_id"], b["home_team_id"]),
        is_home=b["team_id"] == b["home_team_id"],
        poss=b["fga"] - b["oreb"] + b["tov"] + 0.44 * b["fta"])
    b["off_eff"] = np.where(b["poss"] > 0, 100 * b["pts"] / b["poss"].where(b["poss"] > 0, 1), 0.0)
    return b[["team_id", "opp", "off_eff", "is_home"]]


def one_sweep(obs: pd.DataFrame, oe: dict, de: dict, sos: float = 0.85) -> tuple[dict, dict]:
    """One Jacobi sweep of the SOS adjustment (neutral venue, unit weights,
    no damping): each team's offense is its games' efficiency scaled by
    (league average / opponent defense)^sos, averaged; defenses likewise."""
    league = obs["off_eff"].mean()
    eff = obs["off_eff"].to_numpy()
    team = obs["team_id"].to_numpy()
    opp = obs["opp"].to_numpy()
    opp_de = np.array([de.get(t) or league for t in opp])
    own_oe = np.array([oe.get(t) or league for t in team])
    adj_off = eff * (league / opp_de) ** sos
    adj_def = eff * (league / own_oe) ** sos
    new_oe = pd.Series(adj_off).groupby(team).mean().clip(40.0, 200.0)
    new_de = pd.Series(adj_def).groupby(opp).mean().clip(40.0, 200.0)
    return new_oe.to_dict(), new_de.to_dict()


def ratings_converged(ratings: pd.DataFrame, obs: pd.DataFrame, tol: float) -> list[str]:
    """A recomputed sweep from the returned ratings moves no team by ``tol``
    or more: the solver reached its fixed point rather than ``max_iter``."""
    oe = dict(zip(ratings["team_id"], ratings["adj_oe"]))
    de = dict(zip(ratings["team_id"], ratings["adj_de"]))
    new_oe, new_de = one_sweep(obs, oe, de)
    worst = max(max(abs(new_oe[t] - oe[t]) for t in new_oe),
                max(abs(new_de[t] - de[t]) for t in new_de))
    if not math.isfinite(worst) or worst >= tol:
        return [f"ratings are not at the fixed point: one more sweep moves a team by {worst:.4f}"]
    return []


def ratings_rank(ratings: pd.DataFrame, strength: dict) -> list[str]:
    """Final ratings rank-correlate with the planted net strengths."""
    net = ratings.set_index("team_id")
    net = net["adj_oe"] - net["adj_de"]
    planted = pd.Series({t: o + d for t, (o, d) in strength.items()})
    rho = net.rank().corr(planted.reindex(net.index).rank())
    if not rho >= MIN_RANK_CORR:
        return [f"final ratings rank-correlate {rho:.3f} with planted strengths, "
                f"below {MIN_RANK_CORR}"]
    return []


def components(rows, truth: dict[int, int]) -> list[str]:
    """Every planted node carries its path's smallest id as its component."""
    got = {int(r[0]): int(r[1]) for r in rows}
    if len(rows) != len(truth) or got != truth:
        bad = sum(got.get(n) != c for n, c in truth.items())
        return [f"connected components: {len(rows)} rows, {bad} of {len(truth)} nodes wrong"]
    return []


def norm_cell(v):
    """A cell as the repository's oracle comparator normalizes it."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v + 0.0)
    if isinstance(v, bool):
        return str(int(v))
    return str(v) if v is not None else None


def matches_oracle(name: str, cols: list[str], rows: list[tuple],
                   o_cols: list[str], o_rows: list[tuple]) -> list[str]:
    """Sorted column names, row count and order-insensitive normalized cell
    values agree."""
    def norm(c, rs):
        order = sorted(range(len(c)), key=lambda i: c[i])
        key = lambda t: tuple(x if x is not None else "" for x in t)  # noqa: E731
        return [c[i] for i in order], sorted(
            (tuple(norm_cell(r[i]) for i in order) for r in rs), key=key)
    sc, sr = norm(cols, rows)
    dc, dr = norm(o_cols, o_rows)
    if sc != dc:
        return [f"{name}: columns {sc} vs oracle {dc}"]
    if len(sr) != len(dr):
        return [f"{name}: {len(sr)} rows vs oracle {len(dr)}"]
    bad = sum(a != b for a, b in zip(sr, dr))
    return [f"{name}: {bad} rows differ from the oracle"] if bad else []
