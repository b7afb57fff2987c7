"""The benchmark workloads.

Each workload is a closed loop with one client: the next call starts
when the previous one returned.  A workload makes its inputs from the
seed, makes the session's first call, then repeats a fixed cycle of
calls.  Every call's output is checked; a wrong or failed call counts
into ``failed``.  A cycle reports the summed latency of its op calls
and of its read calls, so that every sample covers the same set of
calls, whatever their kinds.

* ``sweep_interactive`` — one database grows through a cycle of three
  small ``run()`` calls (a fresh grid run ``safe=True`` with injected
  failures, a half-new ``skip_dups`` superset of it, an all-duplicate
  rerun), each followed by query-helper reads on the whole database
  (four helpers over the cycle).  Every cycle starts from the
  database the first call left, so every cycle does the same work
  however many cycles ran before it.  Per-call
  fixed costs of ``runner``, ``database``, ``metastore`` and ``query``
  dominate; it never touches ``catalog``, ``operators`` or
  ``streaming``.
* ``corpus_queries`` — registered catalog queries over seed-generated
  tables of the fixture shape, each checked against its DuckDB oracle:
  one operator query per layer (k-means Lloyd rounds, the streaming
  near-dup gate, the Arrow worker) and two SQL-only controls (a
  filtered aggregate and a join) that bypass operators and Python
  workers.  It never touches ``runner`` or ``database``.

A traced run alternates traced and untraced cycles; since every cycle
starts from the same state, the two do the same work.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time
import traceback
from collections import Counter

from perfbench import data
from perfbench.trace import NullTracer
from tools.check_correctness import TABLES, frame_hash

_PERF = time.perf_counter


def sweep_func(pset: dict) -> dict:
    """Per-pset ``func``: fails on purpose for b < 0."""
    if pset["b"] < 0:
        raise ValueError("injected failure")
    return {"y_": data.expected_y(pset["a"], pset["b"])}


def result_key(pdf) -> tuple[list[str], str]:
    """A result frame's sorted column names and the repo's exact,
    order-insensitive row hash (``tools/check_correctness.py``)."""
    return sorted(pdf.columns), frame_hash(pdf)


class Workload:
    """Closed-loop bookkeeping shared by the workloads: the checked call,
    the per-cycle sums and the tracer hooks."""

    name: str

    def __init__(self, ps, tmp: str, seed: int, smoke: bool):
        self.ps, self.tmp, self.seed, self.smoke = ps, tmp, seed, smoke
        self.spark = None  # set once the session is up
        self.tracer = NullTracer()
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0  # time spent checking outputs
        self.sums = {"op": 0.0, "read": 0.0}

    def call(self, kind: str, category: str, fn, check, layer=None):
        """Time ``fn()`` as one ``kind`` call into ``sums[category]``, then
        check its output, untimed."""
        self.attempted += 1
        out, ok = None, False
        try:
            with self.tracer.op(kind, layer):
                t0 = _PERF()
                out = fn()
                dt = _PERF() - t0
                self.sums[category] = self.sums.get(category, 0.0) + dt
            print(f"perfbench: {kind} {dt:.4f} s", file=sys.stderr)
            t0 = _PERF()
            ok = bool(check(out))
            self.check_s += _PERF() - t0
        except Exception:  # noqa: BLE001  (a failed call is a result)
            traceback.print_exc(file=sys.stderr)
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong or failed output in {kind}", file=sys.stderr)
        return out

    def run_cycle(self) -> dict[str, float]:
        """One cycle: the summed latency of its op calls and of its read
        calls, and its wall time with the output checks."""
        self.reset()
        self.sums = {"op": 0.0, "read": 0.0}
        t0 = _PERF()
        self.cycle()
        return dict(self.sums, wall=_PERF() - t0)

    def prepare(self) -> None:
        """Make the inputs and the expected results (not timed)."""

    def first(self) -> None:
        """The first call a fresh user session makes."""
        raise NotImplementedError

    def cycle(self) -> None:
        raise NotImplementedError

    def after(self) -> None:
        """Calls made once after the timed cycles, in traced runs only."""

    def reset(self) -> None:
        """Called before each cycle, untimed."""


class SweepInteractive(Workload):
    """One psweep database grows through a cycle of three ``run()`` calls,
    each followed by query-helper reads on the whole database.  The
    expectations come from the generator: rows, distinct psets, failed
    psets and rows per value of ``b``."""

    name = "sweep_interactive"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.calc = os.path.join(self.tmp, "calc")
        self.db_path = os.path.join(self.calc, "database")
        self.n_a = 4 if self.smoke else 40
        self.bvals = list(range(3 if self.smoke else 10))
        self.rows = 0
        self.psets: set[tuple[float, int]] = set()
        self.failed_psets: set[tuple[float, int]] = set()
        self.rows_b: Counter = Counter()
        self.stream = 0
        self.base = None  # the state after the first call

    def values(self, n: int) -> list[float]:
        self.stream += 1
        return data.sweep_values(self.seed, self.stream, n)

    def expect(self, avals, bvals, safe: bool) -> tuple[int, int]:
        """Record a run's psets; returns (requested, new)."""
        new = 0
        for a in avals:
            for b in bvals:
                if (a, b) not in self.psets:
                    self.psets.add((a, b))
                    new += 1
                    self.rows_b[b] += 1
                    if b < 0 and safe:
                        self.failed_psets.add((a, b))
        return len(avals) * len(bvals), new

    def sweep(self, kind, avals, bvals, *, skip_dups=False, safe=False):
        """One checked op: grid build plus ``run()``."""
        ps, tracer = self.ps, self.tracer
        requested, new = self.expect(avals, bvals, safe)
        self.rows += new

        def call():
            with tracer.span("grid.build_s"):
                params = ps.pgrid(ps.plist("a", avals), ps.plist("b", bvals))
            full = ps.run(self.spark, sweep_func, params, calc_dir=self.calc,
                          skip_dups=skip_dups, safe=safe)
            tracer.count("runner.psets_requested", requested)
            tracer.count("runner.psets_skipped", requested - new)
            if tracer.active:
                files, parts, size = db_layout(self.db_path)
                tracer.count("database.files", files)
                tracer.count("database.run_partitions", parts)
                tracer.count("database.bytes_per_row", size / self.rows)
            return full

        return self.call(kind, "op", call, self.check_db, layer="runner")

    def check_db(self, full) -> bool:
        """Rows, unique ``_pset_id`` and ``_pset_seq``, every stored
        ``y_`` and the failed psets, against the generator, read from
        the database's Parquet files with pyarrow."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = ["a", "b", "y_", "_pset_id", "_pset_seq", "_failed"]
        parts = []
        for root, _, names in os.walk(os.path.join(self.db_path, "data")):
            for n in names:
                if n.endswith(".parquet"):
                    t = pq.read_table(os.path.join(root, n))
                    parts.append(t.select([c for c in cols if c in t.column_names]))
        t = pa.concat_tables(parts, promote_options="default").to_pandas()
        failed = t["_failed"].fillna(False).astype(bool).to_numpy()
        expected = data.expected_y(t["a"].to_numpy(), t["b"].to_numpy())
        wrong_y = int(np.sum(~failed & (t["y_"].to_numpy() != expected)))
        got_failed = set(zip(t["a"][failed], t["b"][failed]))
        n, ids, seqs = len(t), t["_pset_id"].nunique(), t["_pset_seq"].nunique()
        good = (n == ids == seqs == self.rows and wrong_y == 0
                and got_failed == self.failed_psets)
        if not good:
            print(f"perfbench: db check n={n} ids={ids} seqs={seqs} "
                  f"wrong_y={wrong_y} failed={len(got_failed)} vs "
                  f"rows={self.rows} failed={len(self.failed_psets)}",
                  file=sys.stderr)
        return good

    def read(self, full, which: str, avals, bvals) -> None:
        """One query-helper read on the whole database, with its check."""
        ps, span = self.ps, self.tracer.span
        if which == "filter":
            def call():
                with span("query.filter_s"):
                    return ps.df_filter_conds(full, [full.b == 1]).count()

            check = lambda n: n == self.rows_b[1]  # noqa: E731
        elif which == "latest":
            def call():
                with span("query.latest_s"):
                    return ps.latest_per_pset(full).count()

            check = lambda n: n == len(self.psets)  # noqa: E731
        elif which == "failed":
            def call():
                with span("query.failed_s"):
                    return ps.failed_psets(full).select("a", "b").collect()

            check = lambda rows: {  # noqa: E731
                (r["a"], r["b"]) for r in rows} == self.failed_psets
        else:
            a = avals[-1]

            def call():
                with span("query.extract_params_s"):
                    return ps.df_extract_params(
                        ps.df_filter_conds(full, [full.a == a]))

            check = lambda dicts: sorted(  # noqa: E731
                (d["a"], d["b"]) for d in dicts) == [(a, b) for b in sorted(bvals)]
        self.call(f"read_{which}", "read", call, check)

    def first(self) -> None:
        # safe=True first, so that the database has _failed from the start
        avals = self.values(self.n_a)
        self.sweep("run_first", avals, self.bvals + [-1], safe=True)

    def cycle(self) -> None:
        # three run() calls make the four run kinds: the fresh grid is
        # the safe=True run with injected failures
        bv, bvf = self.bvals, self.bvals + [-1]
        a1 = self.values(self.n_a)
        full = self.sweep("run_fresh_safe", a1, bvf, safe=True)
        self.read(full, "failed", a1, bvf)
        a2 = a1 + self.values(self.n_a)
        full = self.sweep("run_superset", a2, bv, skip_dups=True)
        self.read(full, "filter", a2, bv)
        full = self.sweep("run_all_dups", a2, bv, skip_dups=True)
        self.read(full, "latest", a2, bv)
        self.read(full, "extract", a2, bv)

    def after(self) -> None:
        """``cli db2json`` once, in a process of its own: one JSON line
        per stored row."""
        def call():
            with self.tracer.span("cli.db2json_s"):
                return subprocess.run(
                    [sys.executable, "-m", "psweep_spark.cli", "db2json",
                     self.db_path],
                    capture_output=True, text=True, cwd=self.tmp,
                    timeout=170, check=True,
                ).stdout

        self.call("cli_db2json", "cli", call,
                  lambda out: len(out.strip().splitlines()) == self.rows)

    def reset(self) -> None:
        """Back to the state after the first call, so that every cycle
        does the same work; the values keep coming fresh."""
        base = os.path.join(self.tmp, "calc.base")
        if self.base is None:
            shutil.copytree(self.calc, base)
            self.base = (self.rows, set(self.psets), set(self.failed_psets),
                         Counter(self.rows_b))
        else:
            shutil.rmtree(self.calc)
            shutil.copytree(base, self.calc)
        rows, psets, failed, rows_b = self.base
        self.rows, self.psets = rows, set(psets)
        self.failed_psets, self.rows_b = set(failed), Counter(rows_b)


class CorpusQueries(Workload):
    """Registered catalog queries over generated tables, in a fixed
    order, each checked against its DuckDB oracle."""

    name = "corpus_queries"
    # (query, category): one operator query per layer, and SQL-only
    # controls that bypass operators and Python workers
    QUERIES = [
        ("q6_forecast_revenue", "read"),  # scan + filtered aggregate
        ("embed_kmeans_lloyd", "op"),  # Lloyd rounds: one job each
        ("q18_large_orders", "read"),  # join on an aggregated subquery
        ("stream_near_dedup_docs", "op"),  # streaming + LSH dedup
        ("multimodal_decode_features", "op"),  # Arrow / pandas worker
    ]
    SCALE = 10  # sf0.01 shape

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from psweep_spark.caching import clear_query_caches
        from psweep_spark.queries_catalog import ORACLES, QUERIES

        self.queries, self.oracles = QUERIES, ORACLES
        self.clear = clear_query_caches
        self.sf_dir = os.path.join(self.tmp, "corpus")
        self.expected: dict[str, tuple[list[str], str]] = {}

    def prepare(self) -> None:
        """Write the tables and hash each query's DuckDB oracle result."""
        import duckdb

        data.write_corpus(
            data.corpus_tables(self.seed, 1 if self.smoke else self.SCALE),
            self.sf_dir)
        con = duckdb.connect()
        try:
            for t in TABLES:
                p = os.path.join(self.sf_dir, f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            for name, _ in self.QUERIES:
                self.expected[name] = result_key(con.sql(self.oracles[name]).df())
        finally:
            con.close()

    def query(self, name: str, category: str) -> None:
        span = self.tracer.span

        def call():
            with span("catalog.build_s"):
                df = self.queries[name](self.spark, self.sf_dir)
            with span("catalog.exec_s"):
                pdf = df.toPandas()
            if category == "op":
                with span("caching.clear_s"):
                    self.clear(self.spark)
            return pdf

        self.call(name, category, call,
                  lambda pdf: result_key(pdf) == self.expected[name],
                  layer="catalog")

    def first(self) -> None:
        self.query(*self.QUERIES[0])

    def cycle(self) -> None:
        for name, category in self.QUERIES:
            self.query(name, category)


WORKLOADS = {w.name: w for w in (SweepInteractive, CorpusQueries)}


def db_layout(db_path: str) -> tuple[int, int, int]:
    """(parquet files, ``_run_id=`` partitions, bytes) of a database."""
    files = parts = size = 0
    for root, dirs, names in os.walk(os.path.join(db_path, "data")):
        parts += sum(d.startswith("_run_id=") for d in dirs)
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, parts, size
