"""CLI entry point — the reference's ``run_pipeline.py`` analog.

Offline mode (default): runs the full per-repo pipeline over the
committed domain fixtures and writes the partitioned warehouse, then
answers the scenario queries via spark.sql as a smoke report.

    python run_pipeline.py [--out /tmp/warehouse] [--max-prs N]

With live credentials a GithubClient + requests_transport feeds the
same process_repo; this container is air-gapped, so the fixture path
is the runnable one (the reference's run_retrieval/run_indexing split
maps to process_repo / write_repo_tables + register_views).
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None, help="warehouse dir")
    ap.add_argument("--max-prs", type=int, default=0)
    ap.add_argument(
        "--dry-run",
        action="store_true",
        help="count the docs each table would write without writing "
        "(reference indexer.py:158-160)",
    )
    ap.add_argument(
        "--prefix",
        default="",
        help="namespace every output table/view, like the reference's "
        "--prefix on index names (indexer.py:128-129)",
    )
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    ap.add_argument(
        "--curate",
        metavar="SF_DIR",
        default=None,
        help="also run the training-data curation funnel over "
        "SF_DIR/documents.parquet and print the per-stage survivors",
    )
    ap.add_argument(
        "--split",
        metavar="SF_DIR",
        default=None,
        help="print the leakage-safe train/val/test split summary for "
        "SF_DIR/documents.parquet (cluster-keyed; near-dups never "
        "straddle splits)",
    )
    ap.add_argument(
        "--search",
        metavar="QUERY",
        default=None,
        help="BM25 full-text search over --search-dir documents "
        "(the reference's retrieval/search.py match-query analog)",
    )
    ap.add_argument(
        "--search-dir",
        default="/root/testdata/sf0.001",
        help="parquet dir holding documents.parquet for --search",
    )
    ap.add_argument(
        "--analyzer",
        choices=("standard", "light_en", "porter"),
        default="standard",
        help="analyzer mode for --search: standard = the reference "
        "schema's declared text_en (stopwords, no stemming), porter = "
        "classic Porter stemming",
    )
    args = ap.parse_args()

    from github_data_pipeline_spark.pipeline import (
        process_repo,
        register_views,
        write_repo_tables,
    )
    from github_data_pipeline_spark.session import get_spark
    from github_data_pipeline_spark.sources.fixtures import REPO, load_fixtures

    spark = get_spark("run-pipeline", master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    if args.split is not None:
        from github_data_pipeline_spark.plans import all_plans

        order = {"train": 0, "val": 1, "test": 2}
        rows = sorted(
            all_plans()["leakage_safe_splits"]
            .builder(spark, args.split)
            .collect(),
            key=lambda r: order.get(r.split, 99),
        )
        print(f"leakage-safe splits over {args.split}/documents.parquet:")
        for r in rows:
            print(
                f"  {r.split:5s} {r.docs:7d} docs in {r.clusters:7d} "
                f"clusters"
            )
        if rows:
            print(
                f"  leaky clusters: safe={rows[0].leaky_clusters} "
                f"naive-per-doc-hash={rows[0].naive_leaky_clusters}"
            )
        return

    if args.search is not None:
        from github_data_pipeline_spark.operators.fulltext import (
            bm25_scan_topk,
            query_terms,
        )
        from github_data_pipeline_spark.sources.tables import load_table

        docs = load_table(spark, args.search_dir, "documents")
        terms = query_terms(args.search, args.analyzer)
        print(
            f"search {args.search!r} ({args.analyzer} analyzer) "
            f"-> terms {terms} over {args.search_dir}:"
        )
        rows = bm25_scan_topk(
            docs, args.search, k=10, mode=args.analyzer
        ).collect()
        for r in rows:
            print(
                f"  doc {r.doc_id:8d}  score {r.score:8.4f}  "
                f"matched {r.matched_terms}/{len(terms)}"
            )
        if not rows:
            print("  (no documents matched)")
        return

    out = args.out or os.path.join(tempfile.gettempdir(), "gdp_warehouse")
    fixtures = load_fixtures(spark)
    tables = process_repo(fixtures, REPO, max_prs=args.max_prs)
    if args.dry_run:
        print(f"(dry-run) would write {len(tables)} tables under {out}:")
        for name in sorted(tables):
            print(f"  (dry-run) {args.prefix}{name:28s} "
                  f"{tables[name].count():6d} docs")
        return
    paths = write_repo_tables(
        tables, os.path.join(out, args.prefix) if args.prefix else out
    )
    print(f"wrote {len(paths)} tables under {out}:")
    for name, path in sorted(paths.items()):
        print(f"  {args.prefix}{name:28s} {spark.read.parquet(path).count():6d} rows")

    register_views(
        spark,
        {n: spark.read.parquet(p) for n, p in paths.items()},
        prefix=args.prefix,
    )
    p = args.prefix
    print("\nscenario smoke (spark.sql):")
    for label, sql in [
        ("open/closed issues", f"SELECT COUNT(*) AS total, SUM(CASE WHEN state='open' THEN 1 ELSE 0 END) AS open FROM {p}issues"),
        ("distinct authors", f"SELECT COUNT(DISTINCT user.login) AS authors FROM {p}issues"),
        ("top cross-repo target", f"SELECT target.repo_name AS t, COUNT(*) AS refs FROM {p}cross_repo_links GROUP BY 1 ORDER BY refs DESC, t LIMIT 1"),
        ("auto-close links", f"SELECT COUNT(*) AS n FROM {p}pr_links WHERE would_auto_close"),
    ]:
        print(f"  {label}: {[tuple(r) for r in spark.sql(sql).collect()]}")

    if args.curate:
        from github_data_pipeline_spark.curation import funnel
        from github_data_pipeline_spark.sources.tables import (
            load_table,
            spread,
        )

        docs = spread(load_table(spark, args.curate, "documents"))
        _, counts = funnel(docs.select("doc_id", "text"))
        print(f"\ncuration funnel over {args.curate}/documents.parquet:")
        for r in counts.collect():
            print(f"  {r['stage']:18s} {r['survivors']:7d} docs")


if __name__ == "__main__":
    main()
