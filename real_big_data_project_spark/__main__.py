"""Operational entry points — the reference's two processes as one CLI.

    python -m real_big_data_project_spark ingest \
        --snapshots raw_snaps.parquet [--euronext listings.parquet] --out DIR
    python -m real_big_data_project_spark sql "SELECT ..." --tables DIR
    python -m real_big_data_project_spark bars --tables DIR --cid 1 \
        [--start 2024-01-01] [--end 2024-12-31] [--bollinger 20]
    python -m real_big_data_project_spark corpus-build --docs DIR \
        --out DIR [--policy neardup|exact]

`ingest` is `python etl.py` (reference etl/etl.py:833-905): raw snapshot
feed (+ optional Euronext listings) → companies/markets parquet +
date-partitioned stocks/daystocks (the hypertable analogue). `sql` is the
dashboard's tab-3 passthrough (arbitrary SQL over the ingested tables via
spark.sql). `bars` is the tab-1/tab-2 chart query (per-company daily bars
+ optional Bollinger bands).

Each command prints ONE JSON line so the CLI is scriptable.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ENGINE_TABLES = ("markets", "companies", "stocks", "daystocks",
                 "stocks_compressed")


def _read_any(spark: SparkSession, path: str) -> DataFrame:
    if path.endswith(".csv") or path.endswith(".tsv"):
        sep = "\t" if path.endswith(".tsv") else ","
        return (spark.read.option("header", "true").option("sep", sep)
                .option("mode", "DROPMALFORMED").csv(path))
    if os.path.isdir(path) and any(
        n.endswith((".csv", ".xlsx")) for n in os.listdir(path)
    ):
        # mixed Euronext feed dir (.csv + .xlsx accumulating together,
        # reference etl/etl.py:507-511): per-format dispatch, union by name
        from .sources.mixed_source import read_mixed_dir

        return read_mixed_dir(spark, path)
    return spark.read.parquet(path)


def cmd_ingest(spark: SparkSession, args: argparse.Namespace) -> dict:
    from .pipeline import run_pipeline
    from .sources.sinks import write_time_partitioned

    raw = _read_any(spark, args.snapshots)
    eur = _read_any(spark, args.euronext) if args.euronext else None
    tables = run_pipeline(spark, raw, euronext=eur,
                          tick_tiebreak=args.tiebreak)
    os.makedirs(args.out, exist_ok=True)
    counts: dict[str, int] = {}
    for name in ("markets", "companies"):
        tables[name].write.mode("overwrite").parquet(
            os.path.join(args.out, name))
        counts[name] = spark.read.parquet(os.path.join(args.out, name)).count()
    for name in ("stocks", "daystocks", "stocks_compressed"):
        write_time_partitioned(tables[name], os.path.join(args.out, name))
        counts[name] = spark.read.parquet(os.path.join(args.out, name)).count()
    return {"cmd": "ingest", "out": args.out, "counts": counts}


# (session, absolute table dir) -> (file-set signature, scan DataFrame)
_SCANS: dict[tuple[SparkSession, str], tuple[str, DataFrame]] = {}


def _register_tables(spark: SparkSession, tables_dir: str) -> list[str]:
    """Register every engine table found under `tables_dir` as a temp view
    of `spark`, and return their names.

    The parquet scans are memoized per (session, absolute table path). An
    entry is reused only while the table dir's file-set signature
    (`sources.registry.fixture_tag`: path, mtime and size of every file,
    and the file count) matches the one taken before it was read, so a
    store rewritten by `ingest`, `compact` or `delete-keys` is listed and
    its schema inferred again. The memo holds lazy plans, not rows: every
    query still plans and executes in full. The views are re-created on
    every call, which restores any view another caller replaced."""
    from .sources.registry import fixture_tag

    found = []
    for name in ENGINE_TABLES:
        p = os.path.abspath(os.path.join(tables_dir, name))
        if os.path.isdir(p):
            sig = fixture_tag(p)
            hit = _SCANS.get((spark, p))
            if hit is None or hit[0] != sig:
                hit = _SCANS[(spark, p)] = (sig, spark.read.parquet(p))
            hit[1].createOrReplaceTempView(name)
            found.append(name)
    return found


def cmd_sql(spark: SparkSession, args: argparse.Namespace) -> dict:
    """Tab-3 passthrough (dashboard/timescaledb_model.py:655-690): SELECTs
    return rows, anything else executes and reports like the reference's
    rowcount branch."""
    views = _register_tables(spark, args.tables)
    df_or_none = spark.sql(args.query)
    if df_or_none.columns:
        rows = df_or_none.limit(args.limit).collect()
        return {"cmd": "sql", "views": views, "n_rows": len(rows),
                "columns": df_or_none.columns,
                "rows": [[str(v) for v in r] for r in rows]}
    return {"cmd": "sql", "views": views, "status": "executed"}


def _bars_frame(spark: SparkSession, args: argparse.Namespace) -> DataFrame:
    """The chart query as a DataFrame, ordered by date. The range is also
    put on the `day` partition column (`day = CAST(date AS DATE)`, and
    `date` is a DATE), which selects the same rows and lets the scan
    skip the daily directories outside it."""
    from .operators.windows import rolling_bollinger
    from .sources.sinks import PARTITION_COL

    _register_tables(spark, args.tables)
    bars = spark.table("daystocks").filter(F.col("cid") == args.cid)
    if args.start:
        start = F.lit(args.start).cast("date")
        bars = bars.filter((F.col("date") >= start)
                           & (F.col(PARTITION_COL) >= start))
    if args.end:
        end = F.lit(args.end).cast("date")
        bars = bars.filter((F.col("date") <= end)
                           & (F.col(PARTITION_COL) <= end))
    if args.bollinger:
        bars = rolling_bollinger(bars, key="cid", ts="date", price="close",
                                 window_size=args.bollinger, num_std=2.0)
    return bars.orderBy("date")


def cmd_bars(spark: SparkSession, args: argparse.Namespace) -> dict:
    """Tab-1 chart query (SURVEY §3.2): daystocks range scan for one
    company, optional Bollinger bands over the close series."""
    bars = _bars_frame(spark, args)
    rows = bars.collect()
    return {"cmd": "bars", "cid": args.cid, "n_rows": len(rows),
            "columns": bars.columns,
            "rows": [[str(v) for v in r] for r in rows[: args.limit]]}


def cmd_compact(spark: SparkSession, args: argparse.Namespace) -> dict:
    """Table maintenance: merge a date-partitioned store's small files
    (sources/sinks.py::compact_time_partitions)."""
    import glob as _glob

    from .sources.sinks import PARTITION_COL, compact_time_partitions

    days = args.days.split(",") if args.days else None
    n_before = len(_glob.glob(f"{args.path}/{PARTITION_COL}=*/*.parquet"))
    compact_time_partitions(spark, args.path, args.target_rows, days=days)
    n_after = len(_glob.glob(f"{args.path}/{PARTITION_COL}=*/*.parquet"))
    return {"cmd": "compact", "path": args.path,
            "files_before": n_before, "files_after": n_after}


def cmd_delete_keys(spark: SparkSession, args: argparse.Namespace) -> dict:
    """Compliance delete: remove every row of the given keys, rewriting
    only the partitions that contain them (sources/sinks.py)."""
    from .sources.sinks import delete_keys_from_store

    # keys arrive as strings; cast to the store's actual key type so
    # string/int/long key columns all work from the CLI
    store_type = dict(spark.read.parquet(args.path).dtypes)[args.key_col]
    keys = spark.createDataFrame(
        [(k,) for k in args.keys.split(",")], f"{args.key_col} string"
    ).select(F.col(args.key_col).cast(store_type))
    n = delete_keys_from_store(spark, args.path, keys, args.key_col)
    return {"cmd": "delete-keys", "path": args.path,
            "key_col": args.key_col, "partitions_rewritten": n}


def cmd_explain(spark: SparkSession, args: argparse.Namespace) -> dict:
    """Physical-plan inspection for any catalog query — the operational
    twin of tests/test_plans.py's pinned invariants: run it before
    shipping a plan change and look for the same signals (PushedFilters,
    BroadcastHashJoin vs SortMergeJoin, Exchange count, WholeStageCodegen
    spans)."""
    from .plans import queries_map

    qmap = queries_map()
    if args.query not in qmap:
        raise SystemExit(f"unknown query {args.query!r}; see CATALOG.md")
    df = qmap[args.query](spark, args.sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {"cmd": "explain", "query": args.query, "sf_dir": args.sf_dir,
            "plan": plan}


def cmd_query(spark: SparkSession, args: argparse.Namespace) -> dict:
    """Run any catalog query by name — every operator in CATALOG.md is
    reachable from the command line, not just the ingest/bars flows.
    The collect is display-bounded by --limit (the DataFrame itself is
    lazy; the limit applies before any rows reach the driver)."""
    from .plans import queries_map

    qmap = queries_map()
    if args.query not in qmap:
        raise SystemExit(f"unknown query {args.query!r}; see CATALOG.md")
    df = qmap[args.query](spark, args.sf_dir).limit(args.limit)
    rows = [r.asDict(recursive=True) for r in df.collect()]
    return {"cmd": "query", "query": args.query, "sf_dir": args.sf_dir,
            "n_rows": len(rows), "rows": rows}


def cmd_corpus_build(spark: SparkSession, args: argparse.Namespace) -> dict:
    """THE corpus-build capstone from the command line: documents in,
    training chunks out (doc_id, chunk_idx, n_chunk_tokens, chunk_md5).
    Default policy `neardup` runs
    q_datapipe_e2e_v2 (MinHash-LSH candidates → connected components →
    quality-argmax canonical per cluster → quality/language/token-length
    selection → deterministic hash sampling → overlapping token-window
    chunking); `exact` runs the cheaper q_datapipe_e2e variant
    (exact-fingerprint min-id keeper, no LSH/components stage) for
    corpora where only byte-identical duplicates matter."""
    from .plans import queries_map

    name = {"neardup": "q_datapipe_e2e_v2", "exact": "q_datapipe_e2e"}[
        args.policy]
    df = queries_map()[name](spark, args.docs)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        return {"cmd": "corpus-build", "policy": args.policy, "query": name,
                "docs": args.docs, "out": args.out, "n_chunks": n}
    rows = [r.asDict() for r in df.limit(args.limit).collect()]
    return {"cmd": "corpus-build", "policy": args.policy, "query": name,
            "docs": args.docs, "n_rows": len(rows), "rows": rows}


def cmd_tokenizer_train(spark: SparkSession, args: argparse.Namespace) -> dict:
    """Train the BPE tokenizer on a corpus and persist BOTH artifacts:
    merges.parquet (rnd, left_sym, right_sym, merged, pair_count — apply
    in rnd order) and vocab.parquet (sym, n_occurrences). These are the
    files a training job ships to every tokenize worker; q_doc_tokens
    shows the same merges applied to live documents."""
    from .datapipe.tokenizer import bpe_artifacts

    docs = spark.read.parquet(
        os.path.join(args.docs, "documents.parquet")).select("text")
    merges, vocab = bpe_artifacts(docs, rounds=args.rounds)
    out = {"cmd": "tokenizer-train", "docs": args.docs,
           "rounds": args.rounds}
    if args.out:
        merges.write.mode("overwrite").parquet(
            os.path.join(args.out, "merges.parquet"))
        vocab.write.mode("overwrite").parquet(
            os.path.join(args.out, "vocab.parquet"))
        out.update(out_dir=args.out,
                   n_merges=merges.count(), vocab_size=vocab.count())
        return out
    out.update(merges=[r.asDict() for r in merges.collect()],
               vocab_size=vocab.count())
    return out


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="real_big_data_project_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest", help="raw feeds -> engine tables")
    ing.add_argument("--snapshots", required=True)
    ing.add_argument("--euronext")
    ing.add_argument("--out", required=True)
    ing.add_argument("--tiebreak", default=None,
                     help="snapshot column making (symbol, ts) total")

    sq = sub.add_parser("sql", help="arbitrary SQL over ingested tables")
    sq.add_argument("query")
    sq.add_argument("--tables", required=True)
    sq.add_argument("--limit", type=int, default=100)

    br = sub.add_parser("bars", help="per-company daily bars (+Bollinger)")
    br.add_argument("--tables", required=True)
    br.add_argument("--cid", type=int, required=True)
    br.add_argument("--start")
    br.add_argument("--end")
    br.add_argument("--bollinger", type=int, default=0)
    br.add_argument("--limit", type=int, default=100)

    cp = sub.add_parser("compact", help="merge small files per day partition")
    cp.add_argument("--path", required=True)
    cp.add_argument("--target-rows", type=int, default=5_000_000,
                    dest="target_rows")
    cp.add_argument("--days", help="comma-separated day subset (default all)")

    dk = sub.add_parser("delete-keys",
                        help="compliance delete: purge keys, rewrite only "
                             "affected partitions")
    dk.add_argument("--path", required=True)
    dk.add_argument("--key-col", required=True, dest="key_col")
    dk.add_argument("--keys", required=True,
                    help="comma-separated key values")

    qr = sub.add_parser("query",
                        help="run a catalog query by name, print rows")
    qr.add_argument("query")
    qr.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.001"),
                    dest="sf_dir")
    qr.add_argument("--limit", type=int, default=20)

    cb = sub.add_parser("corpus-build",
                        help="documents -> training chunks (the "
                             "q_datapipe_e2e_v2 capstone; --policy exact "
                             "for the exact-dedup variant)")
    cb.add_argument("--docs", required=True,
                    help="dir containing documents.parquet")
    cb.add_argument("--out",
                    help="output parquet dir (omit to print sample rows)")
    cb.add_argument("--policy", choices=("neardup", "exact"),
                    default="neardup")
    cb.add_argument("--limit", type=int, default=20)

    tt = sub.add_parser("tokenizer-train",
                        help="learn BPE merges + vocab over documents; "
                             "write merges.parquet / vocab.parquet")
    tt.add_argument("--docs", required=True,
                    help="dir containing documents.parquet")
    tt.add_argument("--out",
                    help="artifact dir (omit to print the merge table)")
    tt.add_argument("--rounds", type=int, default=8)

    ex = sub.add_parser("explain",
                        help="print a catalog query's physical plan")
    ex.add_argument("query")
    ex.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.001"),
                    dest="sf_dir")
    return ap


def main(argv: list[str] | None = None) -> int:
    from .session import get_spark

    args = build_parser().parse_args(argv)
    spark = get_spark("rbds-cli")
    fn = {"ingest": cmd_ingest, "sql": cmd_sql, "bars": cmd_bars,
          "compact": cmd_compact, "delete-keys": cmd_delete_keys,
          "explain": cmd_explain, "query": cmd_query,
          "corpus-build": cmd_corpus_build,
          "tokenizer-train": cmd_tokenizer_train}[args.cmd]
    # default=str: catalog queries legitimately return date/timestamp/Decimal
    # columns, which json can't encode natively (ADVICE r4 — cmd_query crashed
    # on q_vwap_twap); stringifying matches cmd_sql/cmd_bars display semantics.
    print(json.dumps(fn(spark, args), default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
