"""Tiny-size self-tests of the benchmark: generators are deterministic per
seed, a corrupted output fails its check, span reconciliation catches a
missing or double-counted span, and a run emits every named metric with
its unit.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

TINY_MARKET = dict(n_days=30, n_companies=6, ticks_per_day=3)


# ---------------------------------------------------------------------------
# generators
# ---------------------------------------------------------------------------


def _tree(root: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def _same_tree(a: str, b: str) -> bool:
    files = _tree(a)
    return files == _tree(b) and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
        for f in files)


def test_generators_are_deterministic_per_seed(tmp_path):
    def make(seed, tag):
        root = tmp_path / tag
        feed = gen.snapshot_feed(seed, **TINY_MARKET,
                                 out_dir=str(root / "snapshots"))
        gen.euronext_listings(seed, feed, str(root / "listings"))
        gen.corpus(seed, 50, str(root / "docs"))
        return feed, str(root)

    a, root_a = make(7, "a")
    b, root_b = make(7, "b")
    c, root_c = make(8, "c")
    assert a["truth"] == b["truth"]
    pd.testing.assert_frame_equal(a["raw"], b["raw"])
    assert _same_tree(root_a, root_b)
    assert a["truth"] != c["truth"]
    assert not _same_tree(root_a, root_c)


def test_feed_carries_the_dirt_cleansing_must_handle(tmp_path):
    feed = gen.snapshot_feed(3, **TINY_MARKET)
    raw = feed["raw"]
    assert raw["last"].str.contains(",").any()
    assert raw["last"].str.contains(r"\(c\)").any()
    assert raw["name"].str.startswith("SRD ").any()
    assert raw["symbol"].str.startswith(("1rP", "FF11_", "1rA")).any()
    assert feed["truth"]["counts"]["stocks"] < len(raw)      # rows dropped
    docs = gen.corpus(3, 200)
    assert (docs["lang"] == "en").mean() > 0.4
    assert docs["text"].str.contains(" the ").any()


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


def test_same_rows_catches_a_dropped_or_changed_row():
    want = [("2024-01-02", 1.5, None), ("2024-01-03", 2.25, 3.0)]
    got = [["2024-01-02", "1.5", "None"], ["2024-01-03", "2.25", "3.0"]]
    assert checks.same_rows(got, want) is None
    assert checks.same_rows(got[:1], want) is not None
    assert checks.same_rows([got[0], ["2024-01-03", "2.5", "3.0"]], want)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from real_big_data_project_spark.session import get_spark

    spark = get_spark("perfbench-selftest")
    yield spark
    spark.stop()


class _NoTrace:
    rid = ""

    def span(self, name):
        import contextlib

        return contextlib.nullcontext()


def _drop_one_row(table_dir: str) -> None:
    """Rewrite the first non-empty data file of a parquet table without
    its first row."""
    for d, _, fs in sorted(os.walk(table_dir)):
        for f in sorted(fs):
            path = os.path.join(d, f)
            if f.endswith(".parquet") and pq.ParquetFile(path).metadata.num_rows:
                pq.write_table(pq.read_table(path, partitioning=None).slice(1),
                               path)
                crc = os.path.join(d, f".{f}.crc")   # Hadoop's checksum sidecar
                if os.path.exists(crc):
                    os.remove(crc)
                return
    raise AssertionError(f"no rows under {table_dir}")


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    import workloads

    work = str(tmp_path_factory.mktemp("dash"))
    wl = workloads.Dashboard(spark, _NoTrace(), 5, work)
    wl.sizes = {"days": 30, "companies": 6, "ticks_per_day": 3}
    wl.prepare()            # builds the warehouse
    return wl


def test_ingest_check_catches_a_dropped_row(warehouse, tmp_path):
    feed = gen.snapshot_feed(5, **TINY_MARKET)
    counts = dict(feed["truth"]["counts"])
    assert checks.check_ingest(warehouse.tables, feed["truth"], counts) == []
    import shutil

    broken = str(tmp_path / "wh")
    shutil.copytree(warehouse.tables, broken)
    _drop_one_row(os.path.join(broken, "daystocks"))
    problems = checks.check_ingest(broken, feed["truth"], counts)
    assert any("daystocks" in p for p in problems)


def test_dashboard_check_catches_a_dropped_row(warehouse):
    warehouse.run_pass()
    assert warehouse.check() == []
    key, (req, reply) = sorted(warehouse.results.items())[0]
    broken = dict(reply, rows=reply["rows"][1:])
    problems = checks.check_dashboard(warehouse.tables, {key: (req, broken)})
    assert problems and key in problems[0]


def test_corpus_check_catches_a_dropped_row(spark, tmp_path):
    import workloads

    wl = workloads.Corpus(spark, _NoTrace(), 5, str(tmp_path))
    wl.sizes = {"docs": 60}
    wl.prepare()
    wl.run_pass()
    assert wl.n_chunks[-1] > 0
    assert wl.check() == []
    _drop_one_row(wl.out)
    assert checks.check_corpus(spark, wl.docs, wl.out, wl.n_chunks[-1])


# ---------------------------------------------------------------------------
# the result line
# ---------------------------------------------------------------------------


def test_benchmark_json_names_the_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    import workloads

    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def test_reconcile_catches_a_missing_or_double_counted_span():
    from tracing import Span, reconcile

    def spans(*rows):
        return [Span(i, name, "r", parent, a, b)
                for i, (name, parent, a, b) in enumerate(rows)]

    good = spans(("cli.cmd_sql", None, 0.0, 1.0),
                 ("sources.register", 0, 0.1, 0.6),
                 ("plans.build", 0, 0.6, 0.9))
    assert reconcile(good, {"r": 1.0})["r"] < 1e-9
    # no root span: the spans cover only 0.8 s of the 1 s request
    assert reconcile(good[1:], {"r": 1.0})["r"] > 0.05
    # a child recorded twice, or outliving its parent, counts its time twice
    twice = good + [Span(3, "plans.build", "r", 0, 0.6, 0.9)]
    assert reconcile(twice, {"r": 1.0})["r"] > 0.05
    escaping = spans(("cli.cmd_sql", None, 0.0, 1.0),
                     ("sources.register", 0, 0.5, 1.5))
    assert reconcile(escaping, {"r": 1.0})["r"] > 0.05


TINY_RUN = """
import sys
sys.path[:0] = [{bench!r}]
import workloads, run
workloads.Corpus.sizes = {{"docs": 60}}
sys.exit(run.main(["--workload", "corpus", "--seed", "3", "--seconds", "0",
                   "--trace", "{trace}"]))
"""


@pytest.mark.parametrize("trace,names", [("0", run.END_TO_END),
                                          ("1", run.PER_LAYER)])
def test_run_emits_every_named_metric_with_its_unit(trace, names):
    p = subprocess.run([sys.executable, "-c",
                        TINY_RUN.format(bench=BENCH, trace=trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    assert all(isinstance(v["value"], (int, float))
               for v in result["metrics"].values())
