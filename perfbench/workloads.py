"""The workloads. Each stages its inputs, then runs passes through the
program's public functions and checks what every pass wrote.

A workload object has ``stage(where)`` (set-up, timed; it may run several
times, each into a fresh directory), ``run_pass(k)`` (one timed pass of
``OPS_PER_PASS`` operations) and ``check_pass(k)`` (one list of problems per
operation).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import checks
import gen
from hoops_edge_database_etl_spark.normalize import TableSpec, normalize_records
from hoops_edge_database_etl_spark.operators import cc, pbp, ratings
from hoops_edge_database_etl_spark.plans import backtest
from hoops_edge_database_etl_spark.sources import io

PLAYS_SPEC = TableSpec(
    name="perfbench_plays",
    primary_keys=("game_id", "play_id"),
    schema=StructType([
        StructField("game_id", LongType()),
        StructField("play_id", LongType()),
        StructField("period", IntegerType()),
        StructField("seconds_remaining", DoubleType()),
        StructField("team_id", LongType()),
        StructField("play_text", StringType()),
        StructField("score_value", DoubleType()),
        StructField("home_score", DoubleType()),
        StructField("away_score", DoubleType()),
        StructField("game_date", DateType()),
        StructField("is_home", BooleanType()),
    ]),
    aliases={k: v[1:] for k, v in gen.ALIASES.items()},
)

TOL = 0.01  # ratings_per_date's default convergence tolerance


def read_parquet(path: str) -> pd.DataFrame:
    """A table the program wrote, read without Spark (partition columns
    come back as strings)."""
    return pq.read_table(path).to_pandas()


def obs_frame(gts):
    """The solver's per team-game input, from game_team_stats output."""
    return gts.select("game_date", "team_id", F.col("opp_team_id").alias("opp_id"),
                      "off_eff", "is_home")


class Workload:
    def __init__(self, spark, tracer, root: str, seed: int):
        self.spark, self.tr, self.root, self.seed = spark, tracer, root, seed

    def out(self, k: int) -> str:
        return os.path.join(self.root, f"pass{k}")

    def drop_pass(self, k: int) -> None:
        shutil.rmtree(self.out(k), ignore_errors=True)


# --------------------------------------------------------------------------
# season_backfill
# --------------------------------------------------------------------------


class SeasonBackfill(Workload):
    """Full rebuild of one generated season, raw feed to gold, once per pass.
    Each pass is followed by the probe game, which fails on two known
    faults."""

    OPS_PER_PASS = 2

    def stage(self, where: str) -> None:
        """Write the season's raw feed under ``where``, one JSON-lines file a
        day, and load the results feed (schedule, final scores, book
        lines)."""
        self.season = gen.make_season(self.seed)
        self.raw_dir = os.path.join(where, "raw")
        for day in self.season.days:
            gen.write_raw_day(self.season.raw, day, self.raw_path(day))
        games = self.season.games.copy()
        games["game_date"] = pd.to_datetime(games["game_date"])
        self.sched = self.spark.createDataFrame(games).select(
            F.col("game_id").cast("long"), F.to_date("game_date").alias("game_date"),
            F.col("home_team_id").cast("long"), F.col("away_team_id").cast("long"),
            "home_points", "away_points", "book_spread").localCheckpoint(eager=True)
        days = self.season.days
        self.rating_dates = [days[len(days) // 3], days[2 * len(days) // 3],
                             days[-1] + dt.timedelta(days=1)]

    def raw_path(self, day: dt.date) -> str:
        return os.path.join(self.raw_dir, f"day={day.isoformat()}.json")

    def scored(self, preds: pd.DataFrame) -> list[str]:
        """Scored games: every game whose two teams each have a rating dated
        strictly before it, and nothing else."""
        ratings_seen = self.rating_days_by_team()
        want = sum(
            1 for r in self.season.games.itertuples()
            if ratings_seen.get(r.home_team_id, dt.date.max) < r.game_date
            and ratings_seen.get(r.away_team_id, dt.date.max) < r.game_date)
        if len(preds) != want:
            return [f"attach_ratings scored {len(preds)} games, expected {want}"]
        return []

    def rating_days_by_team(self) -> dict[int, dt.date]:
        """First rating date at which each team has a rating: the first
        snapshot after its first game."""
        first_game = self.season.plays.groupby("team_id")["game_date"].min()
        out = {}
        for team, day in first_game.items():
            later = [d for d in self.rating_dates if d > day]
            if later:
                out[int(team)] = later[0]
        return out

    def run_pass(self, k: int) -> None:
        tr, out = self.tr, self.out(k)
        raw = self.spark.read.json(self.raw_dir)
        norm = tr.call("normalize.normalize_records", normalize_records, raw, PLAYS_SPEC,
                       "ingest_seq")
        tr.call("sources.io.write_partitioned", io.write_partitioned, norm,
                f"{out}/bronze/plays", ["game_date"])
        bronze = self.spark.read.parquet(f"{out}/bronze/plays")
        enriched = tr.call("operators.pbp.enrich_plays", pbp.enrich_plays, bronze, keep=True)
        tr.call("sources.io.write_partitioned", io.write_partitioned, enriched,
                f"{out}/silver/plays", ["game_date"])
        gts = tr.call("operators.pbp.game_team_stats", pbp.game_team_stats, enriched,
                      True, keep=True)
        gts_ng = tr.call("operators.pbp.game_team_stats", pbp.game_team_stats, enriched,
                         False)
        tr.call("sources.io.overwrite_parquet_atomic", io.overwrite_parquet_atomic, gts,
                f"{out}/silver/gts")
        tr.call("sources.io.overwrite_parquet_atomic", io.overwrite_parquet_atomic, gts_ng,
                f"{out}/silver/gts_no_garbage")
        roll = tr.call("operators.pbp.team_daily_rollup", pbp.team_daily_rollup, gts)
        tr.call("sources.io.overwrite_parquet_atomic", io.overwrite_parquet_atomic, roll,
                f"{out}/gold/rollup")
        rat = tr.call("operators.ratings.ratings_per_date", ratings.ratings_per_date,
                      self.spark, obs_frame(gts), rating_dates=self.rating_dates,
                      tol=TOL, keep=True)
        tr.call("sources.io.overwrite_parquet_atomic", io.overwrite_parquet_atomic, rat,
                f"{out}/gold/ratings")
        preds = tr.call("plans.backtest.attach_ratings", backtest.attach_ratings,
                        self.sched, rat, keep=True)
        metrics = tr.call("plans.backtest.backtest_metrics", backtest.backtest_metrics,
                          preds)
        roi = tr.call("plans.backtest.roi_by_threshold", backtest.roi_by_threshold, preds)
        for df, name in ((preds, "preds"), (metrics, "backtest"), (roi, "roi")):
            tr.call("sources.io.overwrite_parquet_atomic", io.overwrite_parquet_atomic, df,
                    f"{out}/gold/{name}")
        probe = self.spark.createDataFrame(gen.probe_rows(), PLAYS_SPEC.schema)
        self.probe = tr.call("operators.pbp.enrich_plays", pbp.enrich_plays,
                             probe).toPandas()

    def check_pass(self, k: int) -> list[list[str]]:
        out, s = self.out(k), self.season
        enriched = read_parquet(f"{out}/silver/plays")
        problems = checks.play_kinds(enriched, s.plays)
        problems += checks.possession_ends(enriched, s.plays)
        gts = read_parquet(f"{out}/silver/gts")
        problems += checks.game_team_stats(gts, s.plays, include_garbage=True)
        problems += checks.game_team_stats(read_parquet(f"{out}/silver/gts_no_garbage"),
                                           s.plays, include_garbage=False)
        problems += checks.rollup(read_parquet(f"{out}/gold/rollup"), gts)
        rat = read_parquet(f"{out}/gold/ratings")
        last = self.rating_dates[-1]
        final = rat[rat["rating_date"] == last]
        box = checks.box_scores(s.plays)
        problems += checks.ratings_converged(final, checks.observations(box, s.games, last),
                                             TOL)
        problems += checks.ratings_rank(final, s.strength)
        problems += self.scored(read_parquet(f"{out}/gold/preds"))
        probe = gen.probe_game()
        probe_problems = checks.play_kinds(self.probe, probe) + checks.possession_ends(
            self.probe, probe)
        return [problems, probe_problems]


# --------------------------------------------------------------------------
# iterative_solvers
# --------------------------------------------------------------------------

SOLVER_QUERIES = (
    "q300_weighted_sssp",
    "q61_jacobi_exact",
)
TPCH_SF = 0.01


def collect(query, spark, sf_dir) -> tuple[list[str], list[tuple]]:
    """Run a registry query and collect its rows."""
    df = query(spark, sf_dir)
    return df.columns, [tuple(r) for r in df.collect()]


class IterativeSolvers(Workload):
    """The registry's Spark-sweep solvers on TPC-H tables,
    star-contraction connected components on a planted path graph, then
    per-date ratings over a generated season at many dates."""

    OPS_PER_PASS = len(SOLVER_QUERIES) + 2
    RATING_EVERY = 6

    def stage(self, where: str) -> None:
        from hoops_edge_database_etl_spark.queries import all_queries

        self.sf_dir = os.path.join(where, "sf")
        os.makedirs(self.sf_dir)
        gen.write_tpch(self.sf_dir, TPCH_SF)
        self.queries = {q: all_queries()[q] for q in SOLVER_QUERIES}
        edges, self.components = gen.planted_paths(self.seed)
        self.edges = self.spark.createDataFrame(edges).localCheckpoint(eager=True)
        self.season = gen.make_results(self.seed)
        days = sorted(self.season.obs["game_date"].unique())
        self.rating_dates = days[self.RATING_EVERY::self.RATING_EVERY] + [
            days[-1] + dt.timedelta(days=1)]
        obs = self.season.obs.copy()
        obs["game_date"] = pd.to_datetime(obs["game_date"])
        self.obs = self.spark.createDataFrame(obs).select(
            F.to_date("game_date").alias("game_date"), F.col("team_id").cast("long"),
            F.col("opp_id").cast("long"), "off_eff", "is_home").localCheckpoint(eager=True)
        self.oracle = None

    def run_pass(self, k: int) -> None:
        self.rows = {q: self.tr.call(f"queries.solver.{q}", collect, fn, self.spark,
                                     self.sf_dir)
                     for q, fn in self.queries.items()}
        # the rounds run inside the call; the traced run wraps it in a span
        self.cc_rows = cc.connected_components_star(self.edges).collect()
        self.rat = self.tr.call("operators.ratings.ratings_per_date",
                                ratings.ratings_per_date, self.spark, self.obs,
                                rating_dates=self.rating_dates, tol=TOL).toPandas()

    def oracles(self) -> dict:
        import duckdb
        from hoops_edge_database_etl_spark.queries import all_oracles

        con = duckdb.connect()
        try:
            for t in ("orders", "lineitem"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf_dir}/{t}.parquet')")
            out = {}
            for q in self.queries:
                res = con.execute(all_oracles()[q])
                out[q] = ([d[0] for d in res.description], res.fetchall())
            return out
        finally:
            con.close()

    def check_pass(self, k: int) -> list[list[str]]:
        if self.oracle is None:
            self.oracle = self.oracles()
        results = []
        for q in self.queries:
            cols, rows = self.rows[q]
            results.append(checks.matches_oracle(q, cols, rows, *self.oracle[q]))
        results.append(checks.components(self.cc_rows, self.components))
        last = self.rating_dates[-1]
        final = self.rat[self.rat["rating_date"] == last]
        obs = self.season.obs
        obs = obs[pd.to_datetime(obs["game_date"]) < pd.Timestamp(last)].rename(
            columns={"opp_id": "opp"})
        results.append(checks.ratings_converged(final, obs, TOL)
                       + checks.ratings_rank(final, self.season.strength))
        return results


WORKLOADS = {
    "season_backfill": SeasonBackfill,
    "iterative_solvers": IterativeSolvers,
}
