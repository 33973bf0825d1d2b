"""The benchmark workloads, driven only through the program's public
surface: ``mvrepair.runner.run``, ``mvrepair.sources.load_table``, the
``mvrepair_mutation_sink`` data source and ``__spark_entry__.queries()``.

A workload generates its inputs (untimed), registers them (part of
set-up), runs passes (the timed unit), checks each pass's outputs
(untimed) and, in a traced run, runs the layer passes that split a pass
into per-layer times.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys

import gen
from spans import Attribution, Tracer


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# reconcile_sparse / repair_dense
# ---------------------------------------------------------------------------

_UPSERT_DDL = (
    "grp long, id long, column string, column_type string, value string,"
    " writetime long, ttl int, flavor string"
)
_DELETE_DDL = "grp long, id long"


class Reconcile:
    """One ``runner.run`` per pass over a generated base/MV pair."""

    def __init__(self, name: str, shape: gen.PairShape, repair: bool, work: str):
        self.name = name
        self.shape = shape
        self.repair = repair
        self.data = os.path.join(work, "data")
        self.out = os.path.join(work, "out")
        self.sink = os.path.join(work, "sink")
        self.expect: gen.PairExpect | None = None
        self.stats = None
        self.report_mb = 0.0

    # -- inputs -----------------------------------------------------------
    def generate(self, seed: int) -> None:
        self.expect = gen.make_pair(self.shape, seed, self.data, self.repair)

    def imports(self) -> None:
        import mvrepair.runner  # noqa: F401
        import mvrepair.sources.mutationsink  # noqa: F401

    def first_pass(self, spark) -> list[str]:
        return []

    def close(self) -> None:
        pass

    def register(self, spark) -> None:
        from mvrepair.schema import MVSpec, TableSchema
        from mvrepair.sources import load_table

        cols = dict(gen.VALUE_COLUMNS, id="BIGINT", grp="BIGINT")
        self.spec = MVSpec(
            base=TableSchema(pk=gen.BASE_PK, columns=dict(cols)),
            mv=TableSchema(pk=gen.MV_PK, columns=dict(cols)),
        )
        self.base = load_table(spark, self.data, "base")
        self.mv = load_table(spark, self.data, "mv")
        if self.repair:
            from mvrepair.sources.mutationsink import MutationSinkDataSource

            spark.dataSource.register(MutationSinkDataSource)

    def keys(self) -> int:
        return self.expect.counters["totRecords"]

    def settings(self):
        from mvrepair.config import SyncSettings

        flag = "true" if self.repair else "false"
        return SyncSettings(
            {
                "cass.mv.starttsinsec": str(gen.WINDOW_START_S),
                "cass.mv.endtsinsec": str(gen.WINDOW_END_S),
                "cass.mv.fixmissingmv": flag,
                "cass.mv.fixorphanmv": flag,
                "cass.mv.fixinconsistentmv": flag,
                "cass.mv.output.dir": self.out,
            }
        )

    # -- passes -----------------------------------------------------------
    def _apply(self, upserts, deletes) -> None:
        """Repair applier: upsert cells and delete keys through the
        mutation sink (the runner calls it with both planned frames)."""
        for df, sub in ((upserts, "upserts"), (deletes, "deletes")):
            df.write.format("mvrepair_mutation_sink").option(
                "path", os.path.join(self.sink, sub)
            ).mode("append").save()

    def clear(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.rmtree(self.sink, ignore_errors=True)

    def run_pass(self, spark) -> None:
        from mvrepair.metrics import JobMetrics
        from mvrepair.runner import run

        self.stats = run(
            spark,
            self.settings(),
            base_df=self.base,
            mv_df=self.mv,
            spec=self.spec,
            metrics=JobMetrics(),
            outdir=self.out,
            repair_applier=self._apply if self.repair else None,
            metrics_sink=lambda line: None,
        )

    def check_pass(self, spark) -> list[str]:
        """Problems with the last pass's outputs (empty = correct)."""
        from mvrepair.operators.reconcile import JobStatsResult
        from mvrepair.report import SEPARATOR

        e, bad = self.expect, []
        got = dict(self.stats.counters)
        if got.pop("readRows", None) != e.read_rows:
            bad.append(f"readRows {self.stats.counters.get('readRows')} != {e.read_rows}")
        if got != e.counters:
            diff = {k: (got.get(k), v) for k, v in e.counters.items() if got.get(k) != v}
            bad.append(f"counters differ (got, want): {diff}")
        with open(os.path.join(self.out, "stats.txt")) as fh:
            if fh.read() != JobStatsResult(e.counters).render():
                bad.append("stats.txt line differs")
        sep = (SEPARATOR + "\n").encode()
        records = {}
        for cat in os.listdir(self.out):
            d = os.path.join(self.out, cat)
            if not os.path.isdir(d):
                continue
            n = 0
            for f in os.listdir(d):
                if f.startswith("part-"):
                    with open(os.path.join(d, f), "rb") as fh:
                        n += fh.read().count(sep)
            records[cat] = n
        want = {k: v for k, v in e.records.items() if v}
        if records != want:
            bad.append(f"report records {records} != {want}")
        if self.repair:
            bad += self._check_sink(spark, "upserts", _UPSERT_DDL, e.upsert_cells)
            bad += self._check_sink(spark, "deletes", _DELETE_DDL, e.delete_keys)
        return bad

    def _check_sink(self, spark, sub: str, ddl: str, want: int) -> list[str]:
        from mvrepair.sources.mutationsink import MANIFEST, read_manifested

        path = os.path.join(self.sink, sub)
        # read_manifested raises unless the files hold what the manifest says
        read_manifested(spark, path, ddl)
        with open(os.path.join(path, MANIFEST)) as fh:
            rows = sum(json.loads(line)["rows"] for line in fh)
        return [] if rows == want else [f"{sub}: {rows} rows != {want}"]

    # -- traced run -------------------------------------------------------
    def traced_pass(self, spark, tr: Tracer) -> None:
        """One pass with spans around the runner's calls into the report,
        repair and sink layers."""
        import mvrepair.operators.repair as repair_mod
        import mvrepair.runner as runner_mod

        undo = [
            tr.wrap(runner_mod, "write_reports", "report"),
            tr.wrap(repair_mod, "plan_upserts", "repair.plan"),
            tr.wrap(repair_mod, "plan_deletes", "repair.plan"),
            tr.wrap(self, "_apply", "sink"),
        ]
        try:
            with tr.span("pass"):
                self.run_pass(spark)
        finally:
            for u in undo:
                u()

    def layer_passes(self, spark, tr: Tracer) -> None:
        """Time each layer over inputs materialized beforehand, so a
        layer's self time is its span minus the upstream it re-reads."""
        from mvrepair.operators.reconcile import classify
        from mvrepair.operators.repair import plan_deletes, plan_upserts
        from mvrepair.report import format_report_categorized, write_reports

        st = self.settings()
        window = st.window_micros()
        with tr.span("layer.scan"):
            _noop(self.base)
            _noop(self.mv)
        with tr.span("layer.classify"):
            _noop(classify(self.base, self.mv, self.spec, window=window))
        wide = classify(self.base, self.mv, self.spec, window=window).localCheckpoint()
        with tr.span("layer.wide_read"):
            _noop(wide)
        with tr.span("layer.render"):
            _noop(format_report_categorized(wide, self.spec, st))
        with tr.span("layer.write"):
            write_reports(wide, self.spec, os.path.join(self.out, "layer"), st)
        shutil.rmtree(os.path.join(self.out, "layer"), ignore_errors=True)
        if not self.repair:
            return
        with tr.span("layer.plan_upserts"):
            _noop(plan_upserts(wide, self.spec, st, respect_flags=True))
        with tr.span("layer.plan_deletes"):
            _noop(plan_deletes(wide, self.spec, self.base))
        ups = plan_upserts(wide, self.spec, st, respect_flags=True).localCheckpoint()
        dels = plan_deletes(wide, self.spec, self.base).localCheckpoint()
        with tr.span("layer.sink_read"):
            _noop(ups)
            _noop(dels)
        shutil.rmtree(self.sink, ignore_errors=True)
        with tr.span("layer.sink"):
            self._apply(ups, dels)
        shutil.rmtree(self.sink, ignore_errors=True)

    def layer_metrics(self, at: Attribution, mb) -> dict[str, float]:
        med = at.median_of
        scan = med("layer.scan")
        wide_read = med("layer.wide_read")
        render_total = med("layer.render")
        sink_read = med("layer.sink_read")

        def self_of(name, upstream):
            return max(0.0, med(name) - upstream)

        passes = at.spans("pass")
        run_self = [
            s.dur - sum(c.dur for c in at.tracer.children(s)) for s in passes
        ]
        e = self.expect
        read_amp = [at.total(s).input_records / e.disk_rows for s in passes]
        mb_per_row = e.disk_bytes / 2**20 / e.disk_rows
        return {
            "sources.scan_s": scan,
            # on-disk MB of the rows the scan read
            "sources.scan_mb": med(
                "layer.scan", lambda s: at.total(s).input_records * mb_per_row
            ),
            "sources.sink_s": self_of("layer.sink", sink_read) if self.repair else 0.0,
            "sources.sink_rows": e.upsert_cells + e.delete_keys,
            "reconcile.classify_s": self_of("layer.classify", scan),
            "reconcile.task_cpu_s": max(
                0.0,
                med("layer.classify", lambda s: at.total(s).cpu_s)
                - med("layer.scan", lambda s: at.total(s).cpu_s),
            ),
            "reconcile.shuffle_mb": med(
                "layer.classify", lambda s: mb(at.total(s).shuffle_write_bytes)
            ),
            "reconcile.problem_keys": sum(e.records.values()),
            "report.render_s": self_of("layer.render", wide_read),
            "report.write_s": self_of("layer.write", render_total),
            "report.records": sum(e.records.values()),
            "report.mb": self.report_mb,
            "repair.plan_upserts_s": self_of("layer.plan_upserts", wide_read)
            if self.repair else 0.0,
            "repair.plan_deletes_s": self_of("layer.plan_deletes", wide_read)
            if self.repair else 0.0,
            "repair.upsert_cells": e.upsert_cells,
            "repair.delete_keys": e.delete_keys,
            "runner.self_s": statistics.median(run_self),
            "runner.spark_jobs": statistics.median(
                len(at.total(s).jobs) for s in passes
            ),
            "runner.driver_gap_s": statistics.median(
                at.driver_gap_s(s) for s in passes
            ),
            "runner.read_amplification": statistics.median(read_amp),
        }

    def note_outputs(self) -> None:
        """Record what the last pass left on disk (for ``report.mb``)."""
        total = 0
        for root, _, files in os.walk(self.out):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        self.report_mb = total / 2**20


# ---------------------------------------------------------------------------
# registry_loops
# ---------------------------------------------------------------------------

REGISTRY_QUERIES = [
    "part_communities",
    "part_kcore",
    "part_triangles",
    "jaccard_join_exact",
    "minhash_calibration",
]
REGISTRY_TABLES = ["lineitem", "part", "documents"]
ORACLE_TIMEOUT_S = 120


class Registry:
    """Five registry queries per pass, each materialized through the noop
    sink, with the session's caches released after each."""

    name = "registry_loops"

    def __init__(self, shape: gen.RegistryShape, work: str, root: str):
        self.shape = shape
        self.data = os.path.join(work, "data")
        self.root = root
        self.rows_in = 0
        self.expect_rows: dict[str, int] = {}
        self.got_rows: dict[str, int] = {}
        self._oracle: subprocess.Popen | None = None

    def generate(self, seed: int) -> None:
        self.rows_in = gen.make_registry(self.shape, seed, self.data)

    def imports(self) -> None:
        import __spark_entry__  # noqa: F401
        import mvrepair.cache  # noqa: F401

    def register(self, spark) -> None:
        import __spark_entry__
        from mvrepair.sources import load_table

        for t in REGISTRY_TABLES:
            load_table(spark, self.data, t)
        self.queries = __spark_entry__.queries()

    def keys(self) -> int:
        return self.rows_in

    def clear(self) -> None:
        pass

    def _release(self, spark) -> None:
        from mvrepair import cache

        cache.release_all()
        spark.catalog.clearCache()

    def _materialize(self, q: str, df) -> None:
        """noop-write ``df``, counting its rows on the way for the check."""
        from pyspark.sql import Observation, functions as F

        obs = Observation(q)
        _noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
        self.got_rows[q] = obs.get["n"]

    def run_pass(self, spark) -> None:
        self.got_rows = {}
        for q in REGISTRY_QUERIES:
            self._materialize(q, self.queries[q](spark, self.data))
            self._release(spark)

    def check_pass(self, spark) -> list[str]:
        return [
            f"{q}: {self.got_rows.get(q)} rows != oracle {n}"
            for q, n in self.expect_rows.items()
            if self.got_rows.get(q) != n
        ]

    def first_pass(self, spark) -> list[str]:
        """Collect each query and compare it with its DuckDB twin as a
        canonical multiset (tools/check_oracle.py); sets the row counts
        later passes are checked against.  The twins run in a child
        process (``oracle.py``) while Spark runs this cold pass."""
        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(self.root, "tools", "check_oracle.py")
        )
        co = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(co)
        out = self.data + ".oracle.json"
        self._oracle = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "oracle.py"),
             self.data, out, *REGISTRY_QUERIES],
            cwd=self.root,
        )
        got = {}
        for q in REGISTRY_QUERIES:
            sdf = self.queries[q](spark, self.data)
            got[q] = co.df_to_multiset(sdf.columns, [tuple(r) for r in sdf.collect()])
            self._release(spark)
        if self._oracle.wait(timeout=ORACLE_TIMEOUT_S) != 0:
            return [f"oracle.py exited with code {self._oracle.returncode}"]
        with open(out) as fh:
            want = json.load(fh)
        self.expect_rows = {q: len(want[q]) for q in REGISTRY_QUERIES}
        return [
            f"{q}: differs from its oracle ({len(got[q])} vs {len(want[q])} rows)"
            for q in REGISTRY_QUERIES
            if got[q] != want[q]
        ]

    def close(self) -> None:
        """Stop the oracle process if it is still running."""
        if self._oracle is not None and self._oracle.poll() is None:
            self._oracle.kill()
            self._oracle.wait()

    def traced_pass(self, spark, tr: Tracer) -> None:
        self.got_rows = {}
        with tr.span("pass"):
            for q in REGISTRY_QUERIES:
                with tr.span(f"registry.{q}"):
                    with tr.span("construct"):
                        df = self.queries[q](spark, self.data)
                    self._materialize(q, df)
                self._release(spark)

    def layer_passes(self, spark, tr: Tracer) -> None:
        pass

    def note_outputs(self) -> None:
        pass

    def layer_metrics(self, at: Attribution, mb) -> dict[str, float]:
        out = {}
        for q in REGISTRY_QUERIES:
            spans = at.spans(f"registry.{q}")
            cons = [c for s in spans for c in at.tracer.children(s)]
            out[f"registry.{q}.wall_s"] = statistics.median(s.dur for s in spans)
            out[f"registry.{q}.jobs"] = statistics.median(
                len(at.total(s).jobs) for s in spans
            )
            out[f"registry.{q}.construct_s"] = statistics.median(c.dur for c in cons)
            out[f"registry.{q}.construct_jobs"] = statistics.median(
                len(at.total(c).jobs) for c in cons
            )
        passes = at.spans("pass")
        out["runner.spark_jobs"] = statistics.median(len(at.total(s).jobs) for s in passes)
        out["runner.driver_gap_s"] = statistics.median(at.driver_gap_s(s) for s in passes)
        return out
