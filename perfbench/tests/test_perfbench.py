"""Tests of the benchmark itself: generator determinism, and every output
check failing on a deliberately corrupted output. No Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402

SMALL = dict(n_teams=12, n_days=6, games_per_day=3)


@pytest.fixture(scope="module")
def season():
    return gen.make_season(7, **SMALL)


def as_enriched(plays: pd.DataFrame) -> pd.DataFrame:
    """What a correct enrich_plays returns, built from the planted truth."""
    return plays.assign(play_kind=plays["true_kind"], possession_end=plays["true_end"],
                        offense_team_id=plays["true_offense"])


def solve(obs: pd.DataFrame, tol: float = 0.01):
    """Iterate the recomputed sweep to its fixed point."""
    league = obs["off_eff"].mean()
    teams = sorted(set(obs["team_id"]) | set(obs["opp"]))
    oe = {t: league for t in teams}
    de = dict(oe)
    for _ in range(500):
        new_oe, new_de = checks.one_sweep(obs, oe, de)
        delta = max(max(abs(new_oe[t] - oe[t]) for t in teams),
                    max(abs(new_de[t] - de[t]) for t in teams))
        oe, de = new_oe, new_de
        if delta < tol / 10:
            break
    return pd.DataFrame({"team_id": teams, "adj_oe": [oe[t] for t in teams],
                         "adj_de": [de[t] for t in teams]})


# --- generator -------------------------------------------------------------


def test_season_is_deterministic_for_a_seed(season):
    again = gen.make_season(7, **SMALL)
    pd.testing.assert_frame_equal(season.plays, again.plays)
    pd.testing.assert_frame_equal(season.games, again.games)
    pd.testing.assert_frame_equal(season.raw, again.raw)
    assert season.strength == again.strength


def test_season_changes_with_the_seed(season):
    other = gen.make_season(8, **SMALL)
    assert not season.plays[["play_text"]].equals(other.plays[["play_text"]])
    assert season.strength != other.strength


def test_results_and_paths_are_seeded():
    a, b = gen.make_results(3, n_teams=20, n_days=4, games_per_day=5), gen.make_results(
        3, n_teams=20, n_days=4, games_per_day=5)
    pd.testing.assert_frame_equal(a.obs, b.obs)
    assert not a.obs.equals(gen.make_results(4, n_teams=20, n_days=4, games_per_day=5).obs)
    e1, t1 = gen.planted_paths(3, n_paths=8, length=4)
    e2, t2 = gen.planted_paths(3, n_paths=8, length=4)
    pd.testing.assert_frame_equal(e1, e2)
    assert t1 == t2
    assert not e1.equals(gen.planted_paths(4, n_paths=8, length=4)[0])


def test_raw_feed_resends_and_covers_every_play(season):
    raw = season.raw
    ids = raw["play_id"].fillna(raw["id"]).astype(float).astype("int64")
    assert set(ids) == set(season.plays["play_id"])
    assert len(raw) > len(season.plays)  # re-sent duplicates
    assert raw["ingest_seq"].is_monotonic_increasing


def test_each_half_ends_on_one_open_possession(season):
    """Each half ends with a missed shot at the buzzer and a period-end play
    that closes that shooter's possession, so every possession ends once."""
    p = season.plays.reset_index(drop=True)
    ends = p.index[p["true_kind"] == "period_end"]
    assert len(ends) == 2 * len(season.games)
    assert (p.loc[ends - 1, "true_kind"] == "missed_shot").all()
    assert (p.loc[ends, "true_offense"].to_numpy() == p.loc[ends - 1, "team_id"].to_numpy()).all()
    assert p.loc[ends, "true_end"].all()


# --- checks pass on correct outputs ----------------------------------------


def test_checks_pass_on_truth(season):
    enriched = as_enriched(season.plays)
    assert checks.play_kinds(enriched, season.plays) == []
    assert checks.possession_ends(enriched, season.plays) == []
    box = checks.box_scores(season.plays)
    assert checks.game_team_stats(box, season.plays) == []


# --- each check fails on a corrupted output --------------------------------


def test_dropped_play_fails(season):
    enriched = as_enriched(season.plays).drop(index=season.plays.index[5])
    assert checks.play_kinds(enriched, season.plays)


def test_wrong_play_kind_fails(season):
    enriched = as_enriched(season.plays)
    i = enriched.index[enriched["play_kind"] == "made_shot"][0]
    enriched.loc[i, "play_kind"] = "missed_shot"
    assert checks.play_kinds(enriched, season.plays)


def test_shifted_possession_boundary_fails(season):
    enriched = as_enriched(season.plays)
    # move one possession end onto the next play of the other team
    ends = enriched.index[enriched["possession_end"] & (enriched["true_kind"] == "made_shot")]
    i = ends[0]
    enriched.loc[i, "possession_end"] = False
    j = enriched.index[enriched.index.get_loc(i) + 1]
    enriched.loc[j, "possession_end"] = True
    enriched.loc[j, "offense_team_id"] = enriched.loc[j, "team_id"]
    assert checks.possession_ends(enriched, season.plays)


def test_perturbed_box_score_fails(season):
    box = checks.box_scores(season.plays)
    box.loc[0, "tov"] += 1
    assert checks.game_team_stats(box, season.plays)


def test_garbage_time_filter_is_checked(season):
    box = checks.box_scores(season.plays, include_garbage=True)
    no_garbage = checks.box_scores(season.plays, include_garbage=False)
    if box[checks.BOX_COLUMNS].equals(no_garbage[checks.BOX_COLUMNS]):
        pytest.skip("no garbage time in this small season")
    assert checks.game_team_stats(box, season.plays, include_garbage=False)


def rollup_of(gts: pd.DataFrame) -> pd.DataFrame:
    """A correct season-to-date rollup, made independently."""
    gts = gts.assign(game_date=pd.to_datetime(gts["game_date"]))
    last = gts["game_date"].max()
    rows = []
    for team, g in gts.groupby("team_id"):
        days = pd.date_range(g["game_date"].min(), last, freq="D")
        daily = g.groupby("game_date")["pts"].sum().reindex(days, fill_value=0)
        for day, cum in zip(days, daily.cumsum()):
            rows.append((team, day.date(), cum))
    return pd.DataFrame(rows, columns=["team_id", "day", "cum_pts"])


def test_rollup_checks(season):
    box = checks.box_scores(season.plays).merge(
        season.games[["game_id", "game_date"]], on="game_id")
    roll = rollup_of(box)
    assert checks.rollup(roll, box) == []
    assert checks.rollup(roll.drop(index=roll.index[3]), box)
    bad = roll.copy()
    bad.loc[bad.index[2], "cum_pts"] = -1.0
    assert checks.rollup(bad, box)


def test_converged_ratings_pass_and_perturbed_rating_fails(season):
    box = checks.box_scores(season.plays)
    obs = checks.observations(box, season.games, season.days[-1] + dt.timedelta(days=1))
    ratings = solve(obs)
    assert checks.ratings_converged(ratings, obs, 0.01) == []
    bad = ratings.copy()
    bad.loc[0, "adj_oe"] += 1.0
    assert checks.ratings_converged(bad, obs, 0.01)


def test_rank_check_fails_on_scrambled_ratings():
    res = gen.make_results(5, n_teams=40, n_days=16, games_per_day=10)
    obs = res.obs.rename(columns={"opp_id": "opp"})
    ratings = solve(obs)
    assert checks.ratings_rank(ratings, res.strength) == []
    scrambled = ratings.assign(adj_oe=np.random.default_rng(0).permutation(ratings["adj_oe"]),
                               adj_de=np.random.default_rng(1).permutation(ratings["adj_de"]))
    assert checks.ratings_rank(scrambled, res.strength)


def test_oracle_comparison():
    cols, rows = ["node", "component"], [(1, 1), (2, 1), (3, 3)]
    assert checks.matches_oracle("q", cols, rows, ["component", "node"],
                                 [(1, 1), (1, 2), (3, 3)]) == []
    assert checks.matches_oracle("q", cols, rows[:2], cols, rows)  # missing row
    assert checks.matches_oracle("q", cols, [(1, 1), (2, 2), (3, 3)], cols, rows)
    assert checks.matches_oracle("q", ["node"], [(1,)], cols, rows)


def test_probe_game_truth_is_consistent():
    probe = gen.probe_game()
    assert checks.play_kinds(as_enriched(probe), probe) == []
    assert checks.possession_ends(as_enriched(probe), probe) == []
    assert len(gen.probe_rows()[0]) == 11


def test_components_check():
    edges, truth = gen.planted_paths(2, n_paths=4, length=5)
    assert len(edges) == 16 and len(truth) == 20
    rows = [(n, c) for n, c in truth.items()]
    assert checks.components(rows, truth) == []
    assert checks.components(rows[1:], truth)
    node = next(n for n, c in truth.items() if n != c)
    assert checks.components([(n, n if n == node else c) for n, c in rows], truth)
