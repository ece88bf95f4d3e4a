"""The benchmark's workloads: what one run does, and how it checks it.

Each workload runs a fixed list of steps, so two commits measured with
the same seed execute the same calls. A step is one timed call into a
public function of the program (a registry entry is two calls: its
builder, then a noop write of the frame it returns). Outputs are
checked outside the timed calls.

* ``github`` — the paper's refresh-then-query loop over the committed
  ``testdata_domain`` fixtures: load, derive the repo's tables, write
  the warehouse, register the SQL views, then answer the scenario
  queries once. Set-up runs one pass untimed, with its answers checked,
  so the measured passes are warm.
* ``registry`` — a seeded, cost-stratified sample of the oracle-checked
  registry over the benchmark's copy of the sf0.01 tables; it reads only
  and never touches the sinks. In set-up each sampled entry runs once,
  untimed, and is compared cell-exact with its DuckDB oracle; the
  measured passes are its second and later executions.
"""

from __future__ import annotations

import os
import random
import shutil

PKG = "github_data_pipeline_spark"
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# raw fixture tables that belong to the repo being refreshed; the
# others describe external repos and authors and keep their names
OWN_TABLES = (
    "issues_raw",
    "pull_requests",
    "commits_raw",
    "contributors",
    "issue_comments",
    "blame_ranges",
)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def collect_frame(df) -> tuple[list, list]:
    return df.columns, [tuple(r) for r in df.collect()]


class Github:
    """Refresh one seeded repo from the fixtures, then query it."""

    # budgeted seconds per measured pass; a warm pass took 14-17 s on a
    # 4-core VM
    nominal_pass_s = 15.0

    def __init__(self, run, seed: int) -> None:
        self.run = run
        rng = random.Random(seed)
        self.repo = f"org{rng.randrange(10_000)}/repo{rng.randrange(10_000)}"
        self.iterations = 0

    def describe(self) -> dict:
        return {"repo": self.repo}

    def scenarios(self) -> list[tuple[str, str, list]]:
        """(key, SQL, expected rows) — the ground truths of
        tests/test_pipeline_e2e.py and run_pipeline.py's smoke report,
        for the fixture repo relabelled to the seeded name."""
        return [
            (
                "issue_states",
                "SELECT repo_name, COUNT(*) AS total, "
                "SUM(CASE WHEN state = 'open' THEN 1 ELSE 0 END) AS open "
                "FROM issues GROUP BY repo_name ORDER BY repo_name",
                [(self.repo, 8, 4)],
            ),
            (
                "pr_closing_155",
                "SELECT DISTINCT referenced_repo, pr_number FROM pr_links "
                f"WHERE referenced_repo IN ('{self.repo}') AND issue_number = 155 "
                "ORDER BY referenced_repo",
                [(self.repo, 104)],
            ),
            (
                "cross_repo_targets",
                "SELECT target.repo_name AS t, COUNT(*) AS refs "
                "FROM cross_repo_links GROUP BY 1 ORDER BY refs DESC, t",
                [("other/repo", 2), ("ext/lib", 1)],
            ),
            (
                "blame_authors",
                "SELECT author, SUM(author_lines) AS lines FROM blame_authors "
                "GROUP BY author ORDER BY lines DESC, author",
                [("dave", 11), ("Ann On", 5), ("erin", 5)],
            ),
            (
                "distinct_authors",
                "SELECT COUNT(DISTINCT user.login) AS authors FROM issues",
                [(7,)],
            ),
            (
                "auto_close_links",
                "SELECT COUNT(*) AS n FROM pr_links WHERE would_auto_close",
                [(3,)],
            ),
        ]

    def _relabel(self, fx: dict, name: str) -> dict:
        from pyspark.sql import functions as F

        out = dict(fx)
        for t in OWN_TABLES:
            out[t] = fx[t].withColumn("repo_name", F.lit(name))
        meta = fx["repo_meta_raw"]
        out["repo_meta_raw"] = meta.withColumn(
            "full_name",
            F.when(F.col("full_name").isNotNull(), F.lit(name)),
        )
        return out

    def iteration(self) -> None:
        """One refresh-then-query pass into a fresh warehouse."""
        from github_data_pipeline_spark.pipeline import (
            DERIVED_TABLES,
            process_repo,
            register_views,
            write_repo_tables,
        )
        from github_data_pipeline_spark.sources.fixtures import load_fixtures

        run, spark = self.run, self.run.spark
        wh = os.path.join(run.tmp, f"warehouse-{self.iterations}")
        self.iterations += 1
        fx = run.step(
            "load_fixtures",
            [("fixtures", f"{PKG}.sources.fixtures", lambda _: load_fixtures(spark))],
        )
        if fx is None:
            return
        raw = self._relabel(fx, self.repo)
        derived = run.step(
            "process_repo",
            [("pipeline.process_repo", f"{PKG}.pipeline", lambda _: process_repo(raw, self.repo))],
        )
        if derived is None:
            return
        tables = {t: derived[t] for t in DERIVED_TABLES}
        paths = run.step(
            "write_repo_tables",
            [
                (
                    "pipeline.write_repo_tables",
                    f"{PKG}.pipeline",
                    lambda _: write_repo_tables(tables, wh),
                )
            ],
        )
        if paths is None:
            return
        run.count_output(wh)
        run.step(
            "register_views",
            [
                (
                    "pipeline.register_views",
                    f"{PKG}.pipeline",
                    lambda _: register_views(
                        spark, {n: spark.read.parquet(p) for n, p in paths.items()}
                    ),
                )
            ],
        )
        for key, sql, expected in self.scenarios():
            rows = run.step(
                f"sql.{key}",
                [("sql.scenario", "sql", lambda _, sql=sql: spark.sql(sql).collect())],
            )
            got = None if rows is None else [tuple(r) for r in rows]
            run.check(f"scenario {key}", got == expected, got)
        shutil.rmtree(wh, ignore_errors=True)

    def planned_steps(self) -> int:
        return 4 + len(self.scenarios())

    def setup(self) -> None:
        # the untimed warm-up pass: the fresh process's first refresh
        # pays JIT and code generation, and its cost varies run to run
        self.iteration()

    def measure(self, passes: int) -> None:
        for _ in range(passes):
            self.iteration()


# Entries grouped by similar warm cost at sf0.01 on local[4], so every
# seed draws about the same amount of work. FIXED entries run on every
# seed: each exercises one operator the data build composes, and its
# stage time is folded into that operator's module. decontam_overlap is
# also the middle-cost entry of a sample, so the step median does not
# move with the seed.
OPERATOR_OF = {
    "decontam_overlap": f"{PKG}.operators.decontam",
    "leakage_safe_splits": f"{PKG}.operators.splits",
    "seq_packing_manifest": f"{PKG}.operators.packing",
    "train_shard_manifest": f"{PKG}.operators.sharding",
}
FIXED = tuple(OPERATOR_OF)
STRATA = (
    # streaming drains, 1.7-2.5 s
    ("stream_cms_equality", "stream_watermark_dedup"),
    # customer and order shapes, 0.4-0.6 s
    (
        "customer_order_windows",
        "orders_rollup",
        "customer_order_left_join",
        "top_customers_by_revenue",
        "orders_profile",
    ),
    # TPC-H shapes, 0.4-0.7 s
    (
        "top_supplier_q15",
        "discounted_revenue_q19",
        "large_volume_customer_q18",
        "shipping_priority",
    ),
)


def sample_entries(seed: int) -> list[str]:
    """The seed's sample: one entry per stratum plus FIXED, in seeded order."""
    rng = random.Random(seed)
    names = list(FIXED) + [rng.choice(s) for s in STRATA]
    rng.shuffle(names)
    return names


class Registry:
    """A seeded sample of registry entries, builder + noop write each."""

    # budgeted seconds per measured pass; a warm pass took 8-10 s on a
    # 4-core VM
    nominal_pass_s = 10.0

    def __init__(self, run, seed: int) -> None:
        self.run = run
        self.names = sample_entries(seed)

    def describe(self) -> dict:
        return {"entries": self.names, "sf_dir": os.path.relpath(DATA_DIR)}

    def planned_steps(self) -> int:
        return len(self.names)

    def _entries(self):
        from github_data_pipeline_spark.plans import all_plans

        registry = all_plans()
        return [registry[n] for n in self.names]

    def setup(self) -> None:
        import duckdb

        from github_data_pipeline_spark.testing import (
            diff_frames,
            register_duckdb_views,
            run_oracle,
        )

        con = duckdb.connect()
        try:
            register_duckdb_views(con, DATA_DIR)
            # the untimed first execution: collect, compare with the oracle
            for q in self._entries():
                got = self.run.entry_step(q, DATA_DIR, action=collect_frame)
                if got is None:
                    continue
                want = run_oracle(con, q.oracle)
                diff = diff_frames(got[0], got[1], want[0], want[1])
                self.run.check(f"oracle {q.name}", diff is None, diff)
        finally:
            con.close()

    def measure(self, passes: int) -> None:
        entries = self._entries()
        for _ in range(passes):
            for q in entries:
                self.run.entry_step(q, DATA_DIR)


WORKLOADS = {"github": Github, "registry": Registry}
