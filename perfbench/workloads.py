"""The workloads. Each drives a user-facing entry point of
``real_big_data_project_spark.__main__`` in-process, through the same
``build_parser().parse_args`` + ``cmd_*`` calls the CLI tests make.

A workload generates its inputs (``prepare``), then runs passes. A pass is
one unit of user work: a run of dashboard requests, or one corpus
build. Every pass writes to fresh output directories.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

import checks
import gen


def _cli(spark, tracer, argv: list[str]) -> dict:
    """One CLI command, parsed and run the way ``main`` runs it."""
    from real_big_data_project_spark import __main__ as cli

    args = cli.build_parser().parse_args(argv)
    fn = {"ingest": cli.cmd_ingest, "sql": cli.cmd_sql, "bars": cli.cmd_bars,
          "corpus-build": cli.cmd_corpus_build}[args.cmd]
    with tracer.span(f"cli.{fn.__name__}"):
        return fn(spark, args)


class Workload:
    name = ""
    sizes: dict = {}
    # Untimed passes at the end of set-up. Pass times keep falling for
    # several more passes; the median of the timed passes discounts the
    # slow first one.
    warm_passes = 1

    def __init__(self, spark, tracer, seed: int, work_dir: str):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.work = work_dir
        self.inputs = os.path.join(work_dir, "inputs")
        self.passes = 0

    def prepare(self) -> dict:
        """Generate inputs (and build what the workload reads); returns
        the input sizes."""
        raise NotImplementedError

    def run_pass(self) -> dict:
        """One unit of user work. Returns ``{"ops": [(rid, seconds,
        ok)], "items": n, "rows_returned": n}``."""
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def _fresh_out(self, kind: str) -> str:
        """A new output directory for this pass; the previous pass's one
        is removed (its result was already recorded)."""
        prev = os.path.join(self.work, f"{kind}-{self.passes - 1}")
        shutil.rmtree(prev, ignore_errors=True)
        return os.path.join(self.work, f"{kind}-{self.passes}")

    def _op(self, rid: str, argv: list[str]):
        """Run one command as one user operation: (reply or None, record)."""
        self.tracer.rid = rid
        t0 = time.perf_counter()
        try:
            reply = _cli(self.spark, self.tracer, argv)
            ok = True
        except Exception as e:  # a failed operation is counted, not fatal
            print(f"perfbench: {rid} failed: {e!r}", flush=True)
            reply, ok = None, False
        return reply, (rid, time.perf_counter() - t0, ok)


class Dashboard(Workload):
    """Closed loop, one client, over a warehouse the engine's own `ingest`
    writes during set-up. History length (the number of daily partitions)
    is the traffic dimension.

    The client replays user sessions shaped on the reference dashboard's
    callbacks (SURVEY.md 3.2-3.3, BASELINE.md). Loading the page runs the
    "Select Companies" picker (companies JOIN stocks, DISTINCT, ORDER BY).
    The chart tab's `update_stock_graph` sends one chart query per selected
    company, one after another; here each is a Bollinger-20 `bars`
    request. The stats tab sends one daily-stats table for the selection.
    The SQL tab sends one typed query. The reference records no traffic,
    so how many companies a user selects and how often the SQL tab is used
    are this benchmark's choices, not measurements. A pass is the next
    `REQUESTS_PER_PASS` requests of the session stream, so every pass
    sends the same number of requests whatever the seed draws."""

    name = "dashboard"
    sizes = {"days": 25, "companies": 40, "ticks_per_day": 10}
    LOOKBACKS = (22, 25)
    COMPANIES_PER_SESSION = (1, 2, 3)   # drawn uniformly
    SQL_TAB_SHARE = 0.5                 # sessions that send one typed query
    REQUESTS_PER_PASS = 4

    def prepare(self) -> dict:
        n_days, n_comp = self.sizes["days"], self.sizes["companies"]
        feed = gen.snapshot_feed(self.seed, n_days, n_comp,
                                 self.sizes["ticks_per_day"],
                                 os.path.join(self.inputs, "snapshots"))
        listings = gen.euronext_listings(self.seed, feed,
                                         os.path.join(self.inputs, "listings"))
        self.days = [d.isoformat() for d in feed["days"]]
        self.tables = os.path.join(self.work, "warehouse")
        reply = _cli(self.spark, self.tracer, [
            "ingest", "--snapshots", os.path.join(self.inputs, "snapshots"),
            "--euronext", os.path.join(self.inputs, "listings"),
            "--out", self.tables])
        self.truth, self.counts = feed["truth"], reply["counts"]
        self.stream: list[dict] = []
        self.sessions = 0
        self.results: dict[str, tuple[dict, dict]] = {}
        self.mismatches: list[str] = []
        return {"trading_days": n_days, "companies": n_comp,
                "raw_ticks": feed["n_ticks"],
                "snapshot_files": len(feed["files"]),
                "listing_files": listings,
                "requests_per_pass": self.REQUESTS_PER_PASS,
                "companies_per_session": list(self.COMPANIES_PER_SESSION),
                "sql_tab_share": self.SQL_TAB_SHARE}

    def session(self, i: int) -> list[dict]:
        """The requests of user session `i`, in the order a user sends
        them: picker, one chart per selected company, stats table, and
        for some sessions one typed SQL query."""
        rng = np.random.default_rng([self.seed, 4, i])
        n = self.sizes["companies"]
        k = int(rng.choice(self.COMPANIES_PER_SESSION))
        cids = sorted(int(c) for c in rng.choice(np.arange(1, n + 1), k,
                                                 replace=False))
        start = self.days[-int(rng.choice(self.LOOKBACKS))]
        picker = ("SELECT DISTINCT c.id, c.name, c.symbol FROM companies c "
                  "JOIN stocks s ON s.cid = c.id ORDER BY c.name, c.id")
        stats = (
            "SELECT c.symbol, count(*) AS n_days, min(d.low) AS low, "
            "max(d.high) AS high, avg(CAST(d.close AS DOUBLE)) AS avg_close, "
            "sum(d.volume) AS volume FROM daystocks d "
            "JOIN companies c ON c.id = d.cid "
            f"WHERE d.cid IN ({', '.join(map(str, cids))}) "
            f"AND d.date >= DATE '{start}' GROUP BY c.symbol ORDER BY c.symbol")
        reqs = [{"cmd": "sql", "query": picker}]
        reqs += [{"cmd": "bars", "cid": c, "start": start, "bollinger": 20}
                 for c in cids]
        reqs.append({"cmd": "sql", "query": stats})
        if rng.random() < self.SQL_TAB_SHARE:
            day = self.days[int(rng.integers(len(self.days)))]
            typed = [
                # correlated subquery: the days a company closed above its mean
                "SELECT d.date, d.close FROM daystocks d "
                f"WHERE d.cid = {cids[0]} AND CAST(d.close AS DOUBLE) > "
                "(SELECT avg(CAST(d2.close AS DOUBLE)) FROM daystocks d2 "
                "WHERE d2.cid = d.cid) ORDER BY d.date",
                "SELECT d.cid, d.date, (CAST(d.close AS DOUBLE) - "
                "CAST(d.open AS DOUBLE)) / CAST(d.open AS DOUBLE) AS ret "
                f"FROM daystocks d WHERE d.date = DATE '{day}' "
                "ORDER BY ret DESC, d.cid LIMIT 10",
                "SELECT m.name, count(*) AS n FROM companies c "
                "JOIN markets m ON m.id = c.mid GROUP BY m.name ORDER BY m.name",
            ]
            reqs.append({"cmd": "sql", "query": typed[int(rng.integers(3))]})
        return reqs

    def _argv(self, req: dict) -> list[str]:
        if req["cmd"] == "bars":
            return ["bars", "--tables", self.tables, "--cid", str(req["cid"]),
                    "--start", req["start"], "--bollinger",
                    str(req["bollinger"]), "--limit", "100000"]
        return ["sql", req["query"], "--tables", self.tables,
                "--limit", "100000"]

    def run_pass(self) -> dict:
        first = self.passes * self.REQUESTS_PER_PASS
        while len(self.stream) < first + self.REQUESTS_PER_PASS:
            self.stream += self.session(self.sessions)
            self.sessions += 1
        ops, rows = [], 0
        for k in range(first, first + self.REQUESTS_PER_PASS):
            req = self.stream[k]
            reply, op = self._op(f"req{k}", self._argv(req))
            ops.append(op)
            if reply is None:
                continue
            rows += len(reply["rows"])
            key = json.dumps(req, sort_keys=True)
            if key not in self.results:
                self.results[key] = (req, reply)
            elif self.results[key][1]["rows"] != reply["rows"]:
                self.mismatches.append(f"{key}: reply changed between requests")
        self.passes += 1
        return {"ops": ops, "items": len(ops), "rows_returned": rows}

    def check(self) -> list[str]:
        return (checks.check_ingest(self.tables, self.truth, self.counts)
                + self.mismatches
                + checks.check_dashboard(self.tables, self.results))


class Corpus(Workload):
    """`corpus-build --policy neardup` (q_datapipe_e2e_v2) from documents
    to training chunks."""

    name = "corpus"
    sizes = {"docs": 400}

    def prepare(self) -> dict:
        self.docs = os.path.join(self.inputs, "docs")
        gen.corpus(self.seed, self.sizes["docs"], self.docs)
        self.n_chunks: list[int] = []
        return {"documents": self.sizes["docs"]}

    def run_pass(self) -> dict:
        self.out = self._fresh_out("chunks")
        reply, op = self._op(f"pass{self.passes}", [
            "corpus-build", "--docs", self.docs, "--out", self.out,
            "--policy", "neardup"])
        self.passes += 1
        n = reply["n_chunks"] if reply else 0
        self.n_chunks.append(n)
        return {"ops": [op], "items": self.sizes["docs"], "rows_returned": n}

    def check(self) -> list[str]:
        problems = []
        if len(set(self.n_chunks)) != 1:
            problems.append(f"chunk counts differ between passes: {self.n_chunks}")
        return problems + checks.check_corpus(self.spark, self.docs, self.out,
                                              self.n_chunks[-1])


WORKLOADS = {w.name: w for w in (Dashboard, Corpus)}
