"""Workload ``operator_suite``: one pass over a fixed list of operations,
sorted by name, with a noop sink.

The operations are ``driver_queries`` leaves, one or more per operator
family (the only path into ``dedup``, ``ann``, ``textstats``,
``multimodal`` and ``streaming``), plus ``validate_http``: one Validate
request POSTed to ``service.serve``. The leaves read the frozen sf0.01
testdata tables they need (``events``, ``documents``, ``embeddings``),
kept as byte copies in ``perfbench/sf0.01`` and checked against
``SHA256SUMS`` before use; the seed does not apply to them. The request
asks for a seeded 1-hour PT1M window, all series, pipeline
``hardcoded_fresh`` (step, spike, buddy ×2 iterations on the kernel path,
sct) over a synthetic transcript table with
``with_synthetic_coords_portable`` coordinates, registered in a
``DataSwitch``.

The list is fixed and sorted rather than taken from ``queries()``, whose
order rotates with ``rotation_epoch()``, so the leaf that pays JIT warm-up
never shifts. Set-up runs the whole list once, collecting every result:
that pass warms the JVM, the Python workers and the first job of every
shape, and checks each leaf against its DuckDB oracle and the Validate
response against a direct ``Engine.run_pipeline`` over the same window.
Timed passes then repeat the list with a noop sink until the measured time
is reached; every Validate response is checked again.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import random
import statistics
import time
import urllib.request
from pathlib import Path

from pyspark.sql import functions as F

from perfbench.harness import ROOT, Loop, Sample

#: the frozen sf0.01 tables the leaves read, byte copies of the oracle scale
DATA = Path(__file__).resolve().parent / "sf0.01"
#: leaf → operator family: the cheapest leaf that reaches each family, and
#: the leaves ROADMAP.md names that fit the run budget. The spatial checks
#: (buddy, sct) and the service ride on ``validate_http``; tier writes,
#: range reads, retention compaction and the Gorilla codec on the
#: ``backfill`` workload.
LEAVES = {
    "dedup_exact": "dedup",
    "fill_forward": "gridfill",
    "gapfill": "gridfill",
    "inactive_users": "relational",
    "knn_cosine": "ann",
    "multimodal_features": "multimodal",
    "pii_scan": "text",
    "retention_plan": "retention",
    "rollup_1m_stream": "streaming",
    "step_check": "checks",
    "tier_route": "rollup",
}
#: the leaves ROADMAP.md names, among those run here
NAMED_LEAVES = {"fill_forward", "gapfill", "pii_scan", "rollup_1m_stream", "tier_route"}
VALIDATE = "validate_http"
OPS = sorted([*LEAVES, VALIDATE])
#: the Validate source: synthetic transcripts, ~15 series active per hour
VALIDATE_N_CONV, VALIDATE_AVG_TURNS = 1000, 100
PIPELINE = "hardcoded_fresh"


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def _canon(cols, rows):
    """Order-insensitive rows with columns in name order (the comparison of
    tests/test_driver_contract.py)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def check_data() -> None:
    """The leaves' tables are the frozen testdata, byte for byte."""
    for line in (DATA / "SHA256SUMS").read_text().splitlines():
        digest, name = line.split()
        if hashlib.sha256((DATA / name).read_bytes()).hexdigest() != digest:
            raise RuntimeError(f"{DATA / name} differs from the frozen sf0.01 table")


class OperatorSuite:
    def __init__(self, spark, work: Path, seed: int, tracer=None):
        from rove_spark.plans import driver_queries
        from rove_spark.plans.engine import Engine

        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.data = DATA
        self.queries = driver_queries.queries()
        self.oracles = driver_queries.oracle_sql()
        self.engine = Engine(spark, pipeline_dir=ROOT / "pipelines")
        self.checked: list[Sample] = []
        self.server = None

    # -- set-up -----------------------------------------------------------
    def setup(self, phases) -> None:
        import duckdb

        with phases.measure("inputs"):
            check_data()
            self.make_inputs()
        self.duck = duckdb.connect(config={"memory_limit": "2GB"})
        for p in sorted(self.data.glob("*.parquet")):
            self.duck.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
        with phases.measure("warmup_and_checks"):
            self.expected = self.direct_flags()
            for name in LEAVES:
                t0 = time.perf_counter()
                ok, why = self.check(name)
                self.checked.append(
                    Sample(f"check:{name}", (time.perf_counter() - t0) * 1e3, ok, why)
                )
        self.duck.close()
        self.validate_rows = sum(len(v) for v in self.expected.values())

    def make_inputs(self) -> None:
        """The Validate source behind a DataSwitch served over HTTP, with a
        seeded request window."""
        from rove_spark.operators.signals import derive_signals
        from rove_spark.operators.spatial import with_synthetic_coords_portable
        from rove_spark.service import RoveService, serve
        from rove_spark.sources.switch import DataSwitch
        from rove_spark.sources.synthetic import synthetic_transcripts

        src = self.work / "transcripts"
        with_synthetic_coords_portable(
            derive_signals(
                synthetic_transcripts(
                    self.spark, n_conv=VALIDATE_N_CONV, avg_turns=VALIDATE_AVG_TURNS,
                    seed=self.seed,
                )
            ).withColumn("value", F.col("text_len").cast("double"))
        ).select("conv_id", "ts", "value", "lat", "lon", "elev").write.parquet(str(src))
        table = self.spark.read.parquet(str(src))
        self.switch = DataSwitch()
        self.switch.register("transcripts", lambda: table)
        self.server = serve(RoveService(self.switch, self.engine, value_col="value"))
        self.url = "http://127.0.0.1:%d/validate" % self.server.server_address[1]
        # a seeded hour inside the stationary stretch of the table (after the
        # first day of staggered conversation starts, before the 7th)
        hour = random.Random(self.seed).randrange(24, 6 * 24)
        start = dt.datetime(2024, 1, 1) + dt.timedelta(hours=hour)
        self.window = (start, start + dt.timedelta(hours=1))
        self.request = {
            "data_source": "transcripts",
            "start_time": start.isoformat() + "Z",
            "end_time": self.window[1].isoformat() + "Z",
            "time_resolution": "PT1M",
            "pipeline": PIPELINE,
        }

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None

    # -- operations and their checks ---------------------------------------
    def post(self) -> dict[str, set]:
        body = json.dumps(self.request).encode()
        req = urllib.request.Request(
            self.url, data=body, headers={"Content-Type": "application/json"}
        )
        with urllib.request.urlopen(req, timeout=170) as resp:
            payload = resp.read()
        self.response_bytes = len(payload)
        out = {}
        for line in payload.splitlines():
            msg = json.loads(line)
            out[msg["test"]] = {(r["time"], r["identifier"], r["flag"]) for r in msg["results"]}
        return out

    def direct_flags(self) -> dict[str, set]:
        """The Validate answer computed without the service: fetch the same
        window and run the same pipeline directly."""
        from rove_spark.plans.engine import melt_flags
        from rove_spark.sources.switch import SpaceSpec, TimeSpec

        df = self.switch.fetch(
            "transcripts",
            time_spec=TimeSpec(*self.window),
            space_spec=SpaceSpec(),
        )
        checks = [s.name for s in self.engine.pipelines[PIPELINE].steps]
        flagged = self.engine.run_pipeline(df, PIPELINE, value_col="value")
        out = {c: set() for c in checks}
        for r in melt_flags(flagged, checks).collect():
            out[r.test].add((r.time.isoformat() + "Z", str(r.identifier), int(r.flag)))
        return out

    def check(self, name: str) -> tuple[bool, str]:
        try:
            sdf = self.queries[name](self.spark, str(self.data))
            cols = sdf.columns
            rows = [tuple(r) for r in sdf.collect()]
            sql = self.oracles.get(name)
            if sql is None:
                return bool(rows), "" if rows else "no rows"
            res = self.duck.execute(sql)
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as e:  # a leaf that raises is a failed check
            return False, f"{type(e).__name__}: {e}"
        if sorted(cols) != sorted(duck_cols):
            return False, f"columns {sorted(cols)} != oracle {sorted(duck_cols)}"
        if _canon(cols, rows) != _canon(duck_cols, duck_rows):
            return False, f"{len(rows)} rows differ from the oracle's {len(duck_rows)}"
        return True, ""

    def run_op(self, name: str) -> None:
        if name == VALIDATE:
            self.last_response = self.post()
            return
        self.queries[name](self.spark, str(self.data)).write.format("noop").mode(
            "overwrite"
        ).save()

    def timed(self, loop: Loop) -> None:
        self.loop = loop
        n_pass = 0
        while not loop.done():
            for name in OPS:
                if self.tracer is not None:
                    with self.tracer.operation(f"{name}#{n_pass}"):
                        loop.run(name, lambda: self.run_op(name))
                else:
                    loop.run(name, lambda: self.run_op(name))
                if name == VALIDATE and loop.samples[-1].ok and self.last_response != self.expected:
                    loop.fail_last("flags differ from the direct run_pipeline")
            n_pass += 1
        self.passes = n_pass

    def info_metrics(self) -> dict:
        return {
            "suite_s": (sum(s.ms for s in self.loop.samples) / 1000.0 / self.passes, "s"),
            "validate_rows": (self.validate_rows, "count"),
            "validate_response_bytes": (self.response_bytes, "bytes"),
        }

    # -- traced run only ------------------------------------------------------
    def traced_extras(self) -> None:
        """Execution self time of the spatial checks, which the lazy
        pipeline hides inside the request's collect: the same window
        materialised to a noop sink after fetch, +step/spike, +buddy and
        +sct."""
        from rove_spark.config import Pipeline
        from rove_spark.plans.engine import Engine
        from rove_spark.sources.switch import SpaceSpec, TimeSpec

        steps = self.engine.pipelines[PIPELINE].steps
        eng = Engine(
            self.spark,
            pipelines={f"first{k}": Pipeline(f"first{k}", steps[:k]) for k in (2, 3, 4)},
        )
        df = self.switch.fetch("transcripts", time_spec=TimeSpec(*self.window),
                               space_spec=SpaceSpec())
        self.prefix = {}
        for k in (0, 2, 3, 4):
            out = df if k == 0 else eng.run_pipeline(df, f"first{k}", value_col="value")
            t0 = time.perf_counter()
            out.write.format("noop").mode("overwrite").save()
            self.prefix[k] = time.perf_counter() - t0

    def layer_metrics(self, log) -> dict:
        tr = self.tracer
        passes = self.passes

        def jobs(spans) -> int:
            """Every job of one operation, streaming micro-batches included."""
            op = next(s for s in spans if s.name == "op")
            return log.stats(spans, op.window).jobs

        def ops(name):
            return [tr.of_request(f"{name}#{k}") for k in range(passes)]

        latency = {name: [] for name in OPS}
        for smp in self.loop.samples:
            latency[smp.name].append(smp.ms / 1000.0)
        out = {}
        for family in sorted({*LEAVES.values(), "service"}):
            members = [n for n in OPS if LEAVES.get(n, "service") == family]
            out[f"suite.{family}_s"] = (
                statistics.median(sum(latency[n][k] for n in members) for k in range(passes)),
                "s",
            )
        out["suite.jobs"] = (
            statistics.median(sum(jobs(tr.of_request(f"{n}#{k}")) for n in OPS)
                              for k in range(passes)),
            "count",
        )
        for name in OPS:  # every operation's job count, for the reader
            print(f"  jobs.{name}: {[jobs(sp) for sp in ops(name)]}")
        for name in sorted(NAMED_LEAVES):
            out[f"leaf.{name}_s"] = (statistics.median(latency[name]), "s")
            out[f"leaf.{name}_jobs"] = (statistics.median(jobs(sp) for sp in ops(name)), "count")

        rows = []
        for k, spans in enumerate(ops(VALIDATE)):
            op = next(s for s in spans if s.name == "op")
            val = next(s for s in spans if s.name == "service.validate")
            # the request's own steps: calls made directly by validate, so
            # a collect nested in a fetch or a plan build is counted once
            steps = [s for s in spans if s.parent == val.id]

            def named(n, among=spans):
                return [s for s in among if s.name == n]

            def ms(n):
                return sum(s.seconds for s in named(n, steps)) * 1e3

            rows.append({
                "service.parse_ms": ms("service.parse"),
                "service.collect_ms": ms("dataframe.collect"),
                "service.marshal_ms": (val.busy - sum(s.seconds for s in steps)) * 1e3,
                "service.http_ms": (op.seconds - val.busy) * 1e3,
                "switch.fetch_ms": ms("switch.fetch"),
                "switch.fetch_jobs": log.stats(tr.subtree(named("switch.fetch"))).jobs,
                "engine.run_pipeline_build_ms": ms("engine.run_pipeline"),
                "engine.run_pipeline_build_jobs": log.stats(
                    tr.subtree(named("engine.run_pipeline"))).jobs,
            })
        for key in rows[0]:
            unit = "count" if key.endswith("_jobs") else "ms"
            out[key] = (statistics.median(r[key] for r in rows), unit)
        out["service.response_bytes"] = (self.response_bytes, "bytes")
        out["spatial.buddy_exec_s"] = (self.prefix[3] - self.prefix[2], "s")
        out["spatial.sct_exec_s"] = (self.prefix[4] - self.prefix[3], "s")
        return out
