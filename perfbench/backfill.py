"""Workload ``backfill``: the batch write path.

One operation is one ``Engine.run_job`` of pipeline ``transcripts_pt1m`` over
a day-partitioned ``synthetic_transcripts`` table, with
``retention={"raw": <third day>}``: the first two days are compacted into
the Gorilla cold tier (``chunks_raw``) and dropped from the raw table.
``checks``, ``rollup.build_tiers``, ``PartitionedTable.overwrite_partitions``
and the Gorilla encoder do nearly all the work; the service, the spatial
checks and the read path do none of it.

``run_job`` drops raw partitions and its ``_checkpoint.json`` skips finished
days, so each operation gets a fresh copy of the raw table and a fresh
output directory, made outside the timed span. After each operation, also
untimed, the store is checked: the 1d tier's ``sum(n_turns)`` equals the
input row count, and the decoded ``chunks_raw`` rows equal the expired raw
rows.

The traced run adds, after the timed loop, the layer splits that a lazy
plan hides (prefix materialisations to a noop sink: scan, +checks, +tiers)
and a read-back of the last store through ``Engine.query_range``. Before
the read-back, untimed, ``LATE_BATCHES`` seeded late batches land through
``Engine.ingest_late`` as unfolded tier increments, so the reads merge on
read. Then one seeded range of each kind (aligned, series, ragged, cold)
is read, each checked against a direct aggregate over the input ∪ the late
rows.
"""

from __future__ import annotations

import datetime as dt
import random
import shutil
import statistics
import time
from pathlib import Path

from pyspark.sql import functions as F

from perfbench.harness import ROOT, Loop, Sample

#: input: the first DAYS days of 1000 conversations × ~50 turns, whose
#: default 1% hot conversations at 50× length supply the key skew (≈65k
#: turns). Many conversations and a fixed day span keep the input's volume,
#: skew and partition count nearly the same from seed to seed.
N_CONV, AVG_TURNS, DAYS = 1000, 50, 8
PIPELINE = "transcripts_pt1m"
#: the raw table keeps days from the third on; the first two go cold
RETAIN_FROM = 2
#: late batches landed on the traced run's last store before its read-back
LATE_BATCHES = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Backfill:
    def __init__(self, spark, work: Path, seed: int, tracer=None):
        from rove_spark.plans.engine import Engine

        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.engine = Engine(spark, pipeline_dir=ROOT / "pipelines")
        #: checks made outside the timed loop (each one attempted operation)
        self.checked: list[Sample] = []
        #: wall time of the cold-tier decode in each store check
        self.decode_s: list[float] = []

    # -- set-up -----------------------------------------------------------
    def materialise(self, dest: Path) -> None:
        from rove_spark.operators.signals import derive_signals
        from rove_spark.sources.synthetic import synthetic_transcripts
        from rove_spark.sources.tables import PartitionedTable

        end = dt.datetime(2024, 1, 1) + dt.timedelta(days=DAYS)
        df = (
            derive_signals(
                synthetic_transcripts(self.spark, n_conv=N_CONV, avg_turns=AVG_TURNS, seed=self.seed)
            )
            .filter(F.col("ts") < F.lit(end))
            .withColumn("day", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd"))
        )
        PartitionedTable(dest, ["day"]).overwrite_partitions(df)

    def setup(self, phases) -> None:
        """Materialise the seeded input, record the expected answers, then
        warm up with one whole job."""
        from rove_spark.sources.tables import PartitionedTable

        self.source = self.work / "source"
        with phases.measure("materialise"):
            self.materialise(self.source)
        with phases.measure("expected_answers"):
            table = PartitionedTable(self.source, ["day"])
            self.days = table.partition_days()
            self.cutoff = self.days[RETAIN_FROM]
            raw = table.read(self.spark)
            self.n_turns = raw.count()
            expired = raw.filter(F.col("day") < self.cutoff).select(
                "conv_id", "ts", F.col("text_len").cast("float").alias("v")
            )
            self.expired_rows = sorted(tuple(r) for r in expired.collect())
        with phases.measure("warmup"):
            raw, out = self.fresh("warmup")
            self.run_job(raw, out)
            shutil.rmtree(raw)
            shutil.rmtree(out)

    def close(self) -> None:
        pass

    # -- the operation ------------------------------------------------------
    def fresh(self, tag: str) -> tuple[Path, Path]:
        raw, out = self.work / f"raw-{tag}", self.work / f"out-{tag}"
        shutil.copytree(self.source, raw)
        return raw, out

    def run_job(self, raw: Path, out: Path) -> dict:
        from rove_spark.sources.tables import PartitionedTable

        return self.engine.run_job(
            PartitionedTable(raw, ["day"]).read(self.spark).drop("day"),
            PIPELINE,
            out,
            value_col="text_len",
            input_fingerprint=f"synthetic:{self.seed}",
            retention={"raw": self.cutoff},
            input_path=raw,
        )

    def check(self, out: Path) -> tuple[bool, str]:
        from rove_spark.operators.rollup import read_cold
        from rove_spark.sources.tables import PartitionedTable

        n = PartitionedTable(out / "tier_1d", ["day"]).read(self.spark).agg(
            F.sum("n_turns")
        ).first()[0]
        if n != self.n_turns:
            return False, f"1d tier holds {n} turns, input has {self.n_turns}"
        cold = read_cold(
            self.spark, PartitionedTable(out / "chunks_raw", ["day"]), value_col="text_len"
        ).filter(~F.col("is_gap"))
        t0 = time.perf_counter()
        got = sorted(tuple(r) for r in cold.select("series_id", "ts", "text_len").collect())
        self.decode_s.append(time.perf_counter() - t0)
        if got != self.expired_rows:
            return False, f"chunks_raw decodes to {len(got)} rows, {len(self.expired_rows)} expired"
        return True, ""

    def timed(self, loop: Loop) -> None:
        self.stores: list[dict] = []
        i = 0
        while not loop.done():
            raw, out = self.fresh(str(i))
            if self.tracer is not None:
                with self.tracer.operation(f"job{i}"):
                    loop.run("run_job", lambda: self.run_job(raw, out))
            else:
                loop.run("run_job", lambda: self.run_job(raw, out))
            if loop.samples[-1].ok:
                ok, why = self.check(out)
                if not ok:
                    loop.fail_last(why)
                files = _parquet_files(out, ("tier_", "chunks_raw"))
                chunks = _parquet_files(out, ("chunks_raw",))
                self.stores.append(
                    {
                        "files": len(files),
                        "bytes": sum(p.stat().st_size for p in files),
                        "chunk_bytes": sum(p.stat().st_size for p in chunks),
                    }
                )
            if i:
                shutil.rmtree(self.last_raw, ignore_errors=True)
                shutil.rmtree(self.last_store, ignore_errors=True)
            self.last_raw, self.last_store = raw, out
            i += 1
        self.job_s = statistics.median(s.ms for s in loop.samples) / 1000.0

    def info_metrics(self) -> dict:
        return {
            "turns": (self.n_turns, "count"),
            "turns_per_s": (self.n_turns / self.job_s, "1/s"),
            "store_bytes_per_turn": (
                statistics.median(st["bytes"] for st in self.stores) / self.n_turns, "bytes"),
        }

    # -- traced run only ------------------------------------------------------
    def traced_extras(self) -> None:
        """Layer splits a lazy plan hides, and the read-back of the last store."""
        from rove_spark.operators.rollup import build_tiers
        from rove_spark.sources.tables import PartitionedTable

        raw = PartitionedTable(self.source, ["day"]).read(self.spark).drop("day")
        checks = [s.name for s in self.engine.pipelines[PIPELINE].steps]
        prefix = {}
        t0 = time.perf_counter()
        _noop(raw)
        prefix["scan"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        flagged = self.engine.run_pipeline(raw, PIPELINE, "text_len")
        _noop(flagged)
        prefix["checks"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        tiers = build_tiers(flagged, checks=checks, text_len_source="text", tool_col="tool")
        union = None
        for name, t in tiers.items():
            t = t.withColumn("tier", F.lit(name))
            union = t if union is None else union.unionByName(t)
        _noop(union)
        tiers["1m"].unpersist()
        prefix["tiers"] = time.perf_counter() - t0
        self.prefix = prefix
        reads = self.read_list()
        self.late = self.ingest_late()
        self.reads = [self.read_back(kind, start, end, ids) for kind, start, end, ids in reads]

    def ingest_late(self):
        """Land seeded late batches on the last store as tier increments:
        batch ``b`` repeats one seeded conversation's turns of one seeded
        day of the aligned read's range under the new series ``late-b``.
        Returns their rows."""
        from rove_spark.sources.tables import PartitionedTable

        rng = random.Random(self.seed + 1)
        src = PartitionedTable(self.source, ["day"]).read(self.spark)
        late = None
        for b in range(LATE_BATCHES):
            day = rng.choice(self.late_days)
            rows = src.filter(F.col("day") == day).drop("day")
            convs = sorted(r[0] for r in rows.select("conv_id").distinct().collect())
            batch = rows.filter(F.col("conv_id") == rng.choice(convs)).withColumn(
                "conv_id", F.lit(f"late-{b}")
            )
            self.engine.ingest_late(
                batch, PIPELINE, self.last_store, batch_id=f"late-{b}", value_col="text_len"
            )
            late = batch if late is None else late.unionByName(batch)
        return late

    def read_list(self) -> list[tuple]:
        """One seeded range of each kind over the last store; the late
        batches land inside the first three."""
        rng = random.Random(self.seed)
        day = [dt.datetime.strptime(d, "%Y-%m-%d") for d in self.days]
        hot = day[RETAIN_FROM:]

        def ragged(d: dt.datetime) -> dt.datetime:
            return d + dt.timedelta(
                hours=rng.randrange(24), minutes=rng.randrange(60), seconds=rng.randrange(1, 60)
            )

        a = rng.randrange(len(hot) - 3)
        self.late_days = self.days[RETAIN_FROM + a : RETAIN_FROM + a + 3]
        series = f"conv-{rng.randrange(N_CONV // 100, N_CONV)}"
        return [
            ("aligned", hot[a], hot[a + 3], None),
            ("series", ragged(hot[a]), ragged(hot[a + 2]), [series]),
            ("ragged", ragged(hot[a]), ragged(hot[a + 3]), None),
            ("cold", ragged(day[0]), ragged(day[RETAIN_FROM + 1]), None),
        ]

    def read_back(self, kind: str, start, end, ids) -> dict:
        from rove_spark.sources.tables import PartitionedTable

        # the late rows have reached the raw side too: slivers read them there
        hot = (
            PartitionedTable(self.last_raw, ["day"]).read(self.spark).drop("day")
            .unionByName(self.late)
        )
        with self.tracer.operation(f"read:{kind}", "read") as sp:
            t0 = time.perf_counter()
            got = self.engine.query_range(
                self.last_store, start, end, hot_df=hot, series_ids=ids
            ).collect()
            ms = (time.perf_counter() - t0) * 1000.0
        src = (
            PartitionedTable(self.source, ["day"]).read(self.spark).drop("day")
            .unionByName(self.late)
        )
        if ids is not None:
            src = src.filter(F.col("conv_id").isin(ids))
        want = (
            src.where((F.col("ts") >= F.lit(start)) & (F.col("ts") < F.lit(end)))
            .groupBy("conv_id")
            .agg(
                F.count(F.lit(1)).alias("n_turns"),
                F.sum("text_len").alias("text_len_sum"),
                F.min("text_len").alias("text_len_min"),
                F.max("text_len").alias("text_len_max"),
            )
            .collect()
        )

        def canon(rows):
            return sorted(
                (r.conv_id, int(r.n_turns), float(r.text_len_sum), float(r.text_len_min),
                 float(r.text_len_max))
                for r in rows
            )

        ok = canon(got) == canon(want)
        self.checked.append(
            Sample(f"read:{kind}", ms, ok, "" if ok else f"{len(got)} rows differ from {len(want)}")
        )
        return {"kind": kind, "ms": ms, "rows_out": max(1, len(got)), "span": sp}

    def layer_metrics(self, log) -> dict:
        tr = self.tracer
        ops = [s for s in tr.spans if s.name == "op"]

        def per_op(fn) -> float:
            return statistics.median(fn(tr.of_request(op.request), op) for op in ops)

        def secs(spans, name, inside=None, outside=None) -> float:
            by_id = {s.id: s for s in spans}

            def under(s, ancestor) -> bool:
                while s.parent in by_id:
                    s = by_id[s.parent]
                    if s.name == ancestor:
                        return True
                return False

            return sum(
                s.seconds
                for s in spans
                if s.name == name
                and (inside is None or under(s, inside))
                and (outside is None or not under(s, outside))
            )

        def named(spans, name):
            return [s for s in spans if s.name == name]

        reads = {r["kind"]: r for r in self.reads}
        read_stats = [log.stats(tr.of_request(f"read:{k}"), r["span"].window)
                      for k, r in reads.items()]
        qr = [s for k in reads for s in named(tr.of_request(f"read:{k}"), "engine.query_range")]
        return {
            "tables.write_s": (per_op(lambda sp, op: secs(
                sp, "tables.overwrite_partitions", outside="rollup.retention_compact")), "s"),
            "tables.files_written": (statistics.median(st["files"] for st in self.stores), "count"),
            "tables.bytes_written": (statistics.median(st["bytes"] for st in self.stores), "bytes"),
            "tables.files_read": (sum(st.files_read for st in read_stats), "count"),
            "engine.run_job_jobs": (per_op(lambda sp, op: log.stats(sp, op.window).jobs), "count"),
            "engine.run_pipeline_build_ms": (
                per_op(lambda sp, op: secs(sp, "engine.run_pipeline")) * 1e3, "ms"),
            "engine.run_pipeline_build_jobs": (per_op(lambda sp, op: log.stats(
                tr.subtree(named(sp, "engine.run_pipeline"))).jobs), "count"),
            "engine.query_range_build_ms": (
                statistics.median(s.seconds for s in qr) * 1e3, "ms"),
            "engine.query_range_build_jobs": (
                statistics.median(log.stats(tr.subtree([s])).jobs for s in qr), "count"),
            "checks.exec_s": (self.prefix["checks"] - self.prefix["scan"], "s"),
            "rollup.build_tiers_exec_s": (self.prefix["tiers"] - self.prefix["checks"], "s"),
            "rollup.retention_compact_s": (
                per_op(lambda sp, op: secs(sp, "rollup.retention_compact")), "s"),
            **{f"read.{k}_ms": (r["ms"], "ms") for k, r in reads.items()},
            "read.rows_scanned_per_row_out": (
                sum(st.rows_scanned for st in read_stats)
                / sum(r["rows_out"] for r in reads.values()), "ratio"),
            "gorilla.encode_s": (per_op(lambda sp, op: secs(
                sp, "tables.overwrite_partitions", inside="rollup.retention_compact")), "s"),
            "gorilla.bytes_per_point": (
                statistics.median(st["chunk_bytes"] for st in self.stores)
                / len(self.expired_rows), "bytes"),
            "gorilla.decode_s": (statistics.median(self.decode_s), "s"),
        }


def _parquet_files(root: Path, prefixes: tuple[str, ...]) -> list[Path]:
    return [
        p
        for d in root.iterdir()
        if d.is_dir() and d.name.startswith(prefixes)
        for p in d.rglob("*.parquet")
    ]

