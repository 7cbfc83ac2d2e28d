"""The benchmark's workloads. Each one:

- ``make_inputs(spark, seconds)``: writes its seeded inputs (untimed);
- ``setup(spark)``: first-touch layout builds and warm-up (timed into
  ``setup_s`` together with the session start);
- ``measure(spark, seconds)``: the timed window; returns ``Window``;
- ``check(spark, window)``: output checks after the window; returns
  the number of failed operations.

Why these workloads (see README.md for the metric -> layer map):

- ``olap_queries``: read-only short batch jobs where driver planning
  and scheduling dominate: star-schema joins, a day-partitioned
  events scan, and a corpus slice (Python workers, exact dedup, shard
  packing, quantized top-k); the streaming path does nothing here, so
  it is the bypass side for it.
- ``events_stream``: an open-loop, write-heavy, stateful stream
  (parse, RocksDB state commits, partitioned file commits, a folded
  rollup) with no Python-worker work, so a batch read-path gain that
  costs writes or commits shows here.
"""

from __future__ import annotations

import bisect
import json
import math
import os
import re
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from tests import oracle


# Money columns of the star schema. The generator writes each as whole
# cents (tenths for p_retailprice), so DECIMAL(12, 2) holds every stored
# value exactly and DuckDB can compute a money query's exact answer.
MONEY = {"lineitem": ("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
         "part": ("p_retailprice",), "orders": ("o_totalprice",),
         "customer": ("c_acctbal",), "supplier": ("s_acctbal",)}


def oracle_answers(sql: str, sf: str) -> list:
    """The normalised frames a correct answer to ``sql`` may equal.

    First the repo's gate: DuckDB over the stored doubles
    (``tests/oracle.py``). A query that rounds a sum of money columns
    also gets that sum computed exactly, in decimals, and rounded half
    up and half down. The two differ only where the exact sum is a tie
    (a cent value ending in 5 at the third decimal); there a rounded sum
    of doubles lands on either side depending on the summation order,
    which differs between Spark's partitions and DuckDB's, so either
    neighbour is the right rounding of a sum within float error."""
    answers = [oracle._norm_frame(oracle.run_oracle(sql, sf))]
    if not any(re.search(rf"\b{c}\b", sql) for cs in MONEY.values() for c in cs):
        return answers
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE MACRO round_half_down(x, n) AS "
                "round(x - sign(x) * 0.0000000001, n)")
    for t in oracle.TABLE_NAMES:
        cols = ", ".join(f"CAST({c} AS DECIMAL(12, 2)) AS {c}"
                         for c in MONEY.get(t, ()))
        sel = f"* REPLACE ({cols})" if cols else "*"
        con.execute(f"CREATE VIEW {t} AS SELECT {sel} "
                    f"FROM read_parquet('{sf}/{t}.parquet')")
    for q in (sql, re.sub(r"\bround\(", "round_half_down(", sql)):
        answers.append(oracle._norm_frame(con.execute(q).fetchdf()))
    return answers


def matches(got, answers) -> bool:
    """``got`` equals the first answer, or each of its cells equals
    that cell in one of the answers (rows paired by their non-float
    cells, which must tell the rows apart)."""
    if got == answers[0]:
        return True
    cols, rows = got

    def keyed(rs):
        d = {tuple(v for v in r if not isinstance(v, float)): r for r in rs}
        return d if len(d) == len(rs) else None

    mine = keyed(rows)
    theirs = [keyed(r) for c, r in answers if c == cols and len(r) == len(rows)]
    if (mine is None or len(theirs) < len(answers)
            or any(t is None or t.keys() != mine.keys() for t in theirs)):
        return False
    return all(any(t[k][i] == v for t in theirs)
               for k, r in mine.items() for i, v in enumerate(r))


@dataclass
class Window:
    """What the timed window produced."""
    t0: float                  # window start (epoch s)
    t1: float                  # window end (epoch s)
    latencies: list[float]     # one sample per operation, seconds
    records: int               # input records completed
    attempted: int
    busy_s: float              # time the system spent on them
    ops: list = field(default_factory=list)      # (start, end) per op
    diag: dict = field(default_factory=dict)


class OlapQueries:
    """Closed loop, one client: ``plans.queries.QUERIES`` callables
    issued back to back over the seeded sf0.1-shaped star schema, 100k
    events, 5k documents and 2k embeddings; each job's latency runs
    from the callable's call to its collected result."""

    name = "olap_queries"
    MIX = (
        # star-schema q-queries: 3- to 6-way joins
        "q3_shipping_priority", "q5_local_supplier_volume",
        "q9_product_margin",
        # day-partitioned events (a layout-cache build on first touch)
        "events_partition_pruned",
        # corpus jobs over the documents and embeddings: Python workers
        # (mapInPandas), operators.dedup / .curation / .similarity
        "multimodal_features", "dedup_exact", "pack_shards",
        "ann_quantized_topk",
    )
    # whole passes per window, so the tail percentile has >= 10
    # samples beyond it and every run samples the same job set; few
    # distinct jobs and more passes, because a job's first (cold) run
    # in set-up costs about three warm ones
    MIN_PASSES = 3

    def __init__(self, work: str, seed: int, tracer):
        self.sf = os.path.join(work, "data")
        self.seed = seed
        self.tracer = tracer

    def make_inputs(self, spark, seconds: float) -> None:
        from last_minute_legends_spark.plans.queries import (
            LOCAL_ORACLE_SQL, ORACLE_SQL,
        )
        from last_minute_legends_spark.sources.tables import TABLE_NAMES

        gen.write_corpus_tables(self.sf, self.seed)
        self.rows = {t: pq.ParquetFile(f"{self.sf}/{t}.parquet").metadata.num_rows
                     for t in TABLE_NAMES}
        sql = {**LOCAL_ORACLE_SQL, **ORACLE_SQL}
        self.expected = {q: oracle_answers(sql[q], self.sf)
                         for q in self.MIX if q in sql}

    def _input_rows(self, df) -> int:
        """Rows of the source tables the plan scans (driver metadata
        only; no job)."""
        scanned = {os.path.basename(f) for f in df.inputFiles()}
        return sum(n for t, n in self.rows.items() if f"{t}.parquet" in scanned)

    def setup(self, spark) -> None:
        """One warm-up pass over the mix: codegen, JIT and the
        first-touch day-partitioned layout build."""
        from last_minute_legends_spark.plans.queries import QUERIES

        self.input_rows = {}
        for q in self.MIX:
            df = QUERIES[q](spark, self.sf)
            self.input_rows[q] = self._input_rows(df)
            df.toPandas()

    def measure(self, spark, seconds: float) -> Window:
        from last_minute_legends_spark.plans.queries import QUERIES

        self.results = []
        t0 = time.time()
        end, i, n = t0 + seconds, 0, len(self.MIX)
        while i % n or i < self.MIN_PASSES * n or time.time() < end:
            q = self.MIX[i % n]
            i += 1
            a = time.time()
            try:
                with self.tracer.span("plans.build"):
                    df = QUERIES[q](spark, self.sf)
                with self.tracer.span("plans.exec"):
                    pdf = df.toPandas()
                err = None
            except Exception:  # a failed job is counted, not fatal
                pdf, err = None, traceback.format_exc()
                print(err, file=sys.stderr)
            self.results.append((q, a, time.time(), pdf, err))
        ops = [(a, b) for _, a, b, _, _ in self.results]
        per_job: dict[str, list[float]] = {}
        for q, a, b, _, _ in self.results:
            per_job.setdefault(q, []).append(b - a)
        return Window(
            t0=t0, t1=time.time(),
            latencies=[b - a for a, b in ops],
            records=sum(self.input_rows[q] for q, *_ in self.results),
            attempted=len(self.results), ops=ops,
            busy_s=sum(b - a for a, b in ops),
            diag={"mix_size": n,
                  "pass_s": [round(sum(b - a for a, b in ops[k:k + n]), 3)
                             for k in range(0, len(ops), n)],
                  "job_p50_s": {q: round(statistics.median(v), 3)
                                for q, v in per_job.items()}})

    def check(self, spark, w: Window) -> int:
        """Compare against DuckDB for every job with an oracle entry:
        exactly, as the repo's oracle gate (``tests/oracle.py``) does,
        except at an exact rounding tie of a money sum (see
        ``oracle_answers``); the jobs that needed that are listed."""
        failed, ties = set(), set()
        for q, _, _, pdf, err in self.results:
            want = self.expected.get(q)
            got = None if err is not None else oracle._norm_frame(pdf)
            if err is not None or (want is not None and not matches(got, want)):
                print(f"check failed: {q}", file=sys.stderr)
                failed.add(q)
            elif want is not None and got != want[0]:
                ties.add(q)
        w.diag["failed_jobs"] = sorted(failed)
        w.diag["rounding_tie_jobs"] = sorted(ties)
        return sum(q in failed for q, *_ in self.results)


class EventsStream:
    """Open loop: a benchmark thread writes typed-event JSON files
    (rendered from ``sources.simulator``) into a topic directory at a
    fixed rate; the system under test runs a file-source stream:
    ``parse_typed_events`` -> watermarked 1-hour windowed count on the
    RocksDB state store -> ``foreachBatch`` landing through
    ``write_time_partitioned`` and a ``fold_rollup`` per-day rollup.

    Latency of a file = commit time of the epoch that consumed it minus
    the file's creation (due) time; the last file of each epoch is
    exactly "last event in the epoch to the epoch's commit"."""

    name = "events_stream"
    RATE = 1400             # offered events per second
    FILE_S = 0.08           # one file every 80 ms (112 events)
    WARM_FILES = 6          # set-up files, numbered -6..-1
    START_US = 1_700_000_000_000_000
    STEP_US = 10_000_000    # 10 s of event time per event
    KEYS = ["event_date", "event_name"]
    SUMS = ["n", "age_sum"]

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.per_file = int(self.RATE * self.FILE_S)

    def make_inputs(self, spark, seconds: float) -> None:
        from last_minute_legends_spark.sources.simulator import (
            simulate_user_activity, simulated_as_typed_json,
        )

        self.n_files = math.ceil(seconds / self.FILE_S)
        total = (self.WARM_FILES + self.n_files) * self.per_file
        sim = simulate_user_activity(spark, total, start_us=self.START_US,
                                     step_us=self.STEP_US, seed=self.seed)
        lines = [r.value for r in simulated_as_typed_json(sim).collect()]
        lines.sort(key=lambda v: int(json.loads(v)["timestamp"]))
        if len(lines) != total:
            raise RuntimeError(f"simulator rendered {len(lines)} of {total}")
        self.lines = lines
        last = int(json.loads(lines[-1])["timestamp"])
        self.sentinel = json.dumps({"timestamp": str(last + 30 * 86_400_000_000),
                                    "event_name": "sign_in", "user_id": "0"})

    # -- the system under test's pipeline ---------------------------------
    def _start(self, spark):
        from last_minute_legends_spark.operators.incremental import fold_rollup
        from last_minute_legends_spark.sources.sinks import write_time_partitioned
        from last_minute_legends_spark.sources.streams import parse_typed_events

        topic = os.path.join(self.work, "topic")
        os.makedirs(topic)
        landed = os.path.join(self.work, "landed")
        ev = parse_typed_events(spark.readStream.format("text").load(topic))
        agg = (ev.withColumn("ts", F.timestamp_micros(F.col("timestamp").cast("long")))
               .withWatermark("ts", "10 minutes")
               .groupBy(F.window("ts", "1 hour"), "event_name")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.coalesce(F.col("age"), F.lit(0))).alias("age_sum"))
               .select(F.col("window.start").alias("ts"), "event_name",
                       "n", "age_sum"))
        st = {"rollup": None, "sinks": {}, "topic": topic, "landed": landed,
              "ckpt": os.path.join(self.work, "ckpt")}

        def sink(batch_df, epoch_id):
            start = time.time()
            with self.tracer.span("stream.sink"):
                batch_df.persist()
                write_time_partitioned(batch_df, landed, ts_col="ts",
                                       granularity="day", mode="append")
                with self.tracer.span("incremental.fold"):
                    delta = (batch_df
                             .groupBy(F.date_format("ts", "yyyy-MM-dd")
                                      .alias("event_date"), "event_name")
                             .agg(*[F.sum(c).alias(c) for c in self.SUMS]))
                    st["rollup"] = fold_rollup(st["rollup"], delta, self.KEYS,
                                               self.SUMS).localCheckpoint(eager=True)
                batch_df.unpersist()
            st["sinks"][epoch_id] = (start, time.time())

        st["query"] = (agg.writeStream.outputMode("append").foreachBatch(sink)
                       .option("checkpointLocation", st["ckpt"]).start())
        return st

    def _write(self, topic: str, k: int, lines: list[str], created: float) -> None:
        stamp = f',"created_us":{int(created * 1e6)}}}'
        tmp = os.path.join(topic, f".f{k:06d}.tmp")
        with open(tmp, "w") as fh:
            fh.write("\n".join(l[:-1] + stamp for l in lines) + "\n")
        os.rename(tmp, os.path.join(topic, f"f{k:06d}.json"))

    def _finish(self, st) -> None:
        """Two watermark sentinels: the first advances the watermark
        past every data window, the second's epoch emits them."""
        q = st["query"]
        for k in (900_000, 900_001):
            q.processAllAvailable()
            self._write(st["topic"], k, [self.sentinel], time.time())
        q.processAllAvailable()
        q.stop()

    def setup(self, spark) -> None:
        """Warm-up: the measured query starts and consumes the
        WARM_FILES set-up files in two epochs, so its first plan, the
        state-store instances and, once the first epoch's watermark has
        closed a window, emission, landing and the fold all run once
        before the window."""
        self.st = st = self._start(spark)
        half = self.WARM_FILES // 2
        for ks in (range(-self.WARM_FILES, -half), range(-half, 0)):
            for k in ks:
                self._write(st["topic"], k, self._chunk(k), time.time())
            st["query"].processAllAvailable()

    def _chunk(self, k: int) -> list[str]:
        """Lines of file ``k`` (negative: a set-up file)."""
        a = (self.WARM_FILES + k) * self.per_file
        return self.lines[a:a + self.per_file]

    def measure(self, spark, seconds: float) -> Window:
        st = self.st
        files = []   # (k, due, written, n_events)

        def generator(t0: float) -> None:
            for k in range(self.n_files):
                due = t0 + k * self.FILE_S
                time.sleep(max(0.0, due - time.time()))
                chunk = self._chunk(k)
                self._write(st["topic"], k, chunk, due)
                files.append((k, due, time.time(), len(chunk)))

        t0 = time.time() + 0.05
        th = threading.Thread(target=generator, args=(t0,), daemon=True)
        th.start()
        th.join()
        st["query"].processAllAvailable()
        batch_of = self._source_log(st["ckpt"])
        sinks = dict(st["sinks"])
        ends = {b: e for b, (_, e) in sinks.items()}
        lat, done, data_batches = [], 0, set()
        for k, due, _, n in files:
            b = batch_of.get(f"f{k:06d}.json")
            if b is not None and b in ends:
                lat.append(ends[b] - due)
                data_batches.add(b)
                done += n
        t1 = max((ends[b] for b in data_batches), default=time.time())
        busy = sum(sinks[b][1] - sinks[b][0] for b in data_batches)
        backlog = 0
        for b, te in ends.items():
            written = sum(n for _, _, wr, n in files if wr <= te)
            committed = sum(n for k, _, _, n in files
                            if ends.get(batch_of.get(f"f{k:06d}.json"), math.inf) <= te)
            backlog = max(backlog, written - committed)
        lag = max(wr - due for _, due, wr, _ in files)
        self.files = files
        self.consumed = {k for k, *_ in files if f"f{k:06d}.json" in batch_of}
        self._finish(st)
        return Window(
            t0=t0, t1=t1, latencies=lat, records=done, attempted=len(files),
            ops=[(t0, t1)], busy_s=busy,
            diag={"offered_rate": self.RATE, "file_s": self.FILE_S,
                  "generator_lag_s": lag,
                  "generator_behind": lag > self.FILE_S,
                  "backlog_records": backlog,
                  "epochs": len(data_batches)})

    @staticmethod
    def _source_log(ckpt: str) -> dict[str, int]:
        """file name -> id of the micro-batch that consumed it, from the
        checkpoint: the file source's log maps files to its own log
        batches, whose ids are not micro-batch ids, and the offsets log
        maps each micro-batch to the source log batch it read up to."""
        def lines(d):
            for name in os.listdir(d):
                if not name.startswith("."):
                    with open(os.path.join(d, name)) as fh:
                        yield name, [json.loads(x) for x in fh if x.startswith("{")]

        # (source log offset read up to, micro-batch id), in batch order:
        # a micro-batch consumed every source log batch after the
        # previous micro-batch's offset, up to and including its own
        reads = sorted((objs[-1]["logOffset"], int(name)) for name, objs
                       in lines(os.path.join(ckpt, "offsets")))
        out = {}
        for _, objs in lines(os.path.join(ckpt, "sources", "0")):
            for e in objs:
                i = bisect.bisect_left(reads, (e["batchId"], -1))
                if i < len(reads):
                    out[os.path.basename(e["path"])] = reads[i][1]
        return out

    def check(self, spark, w: Window) -> int:
        """Landed per-day counts and sums, and the folded rollup, must
        equal a batch aggregate over every delivered event: none lost
        or duplicated."""
        from last_minute_legends_spark.sources.sinks import read_time_partitioned

        ref: dict[tuple, list] = {}
        for k in [*range(-self.WARM_FILES, 0), *(k for k, *_ in self.files)]:
            for v in self._chunk(k):
                e = json.loads(v)
                day = time.strftime("%Y-%m-%d",
                                    time.gmtime(int(e["timestamp"]) / 1e6))
                cell = ref.setdefault((day, e["event_name"]), [0, 0])
                cell[0] += 1
                cell[1] += int(e.get("age") or 0)
        sentinel_day = time.strftime(
            "%Y-%m-%d", time.gmtime(int(json.loads(self.sentinel)["timestamp"]) / 1e6))
        landed = (read_time_partitioned(spark, self.st["landed"])
                  .groupBy(*self.KEYS).agg(*[F.sum(c).alias(c) for c in self.SUMS]))
        failed = len(self.files) - len(self.consumed)
        for name, df in (("landed", landed), ("rollup", self.st["rollup"])):
            got = {(str(r.event_date), r.event_name): [r.n, r.age_sum]
                   for r in df.collect() if str(r.event_date) != sentinel_day}
            bad = {k for k in set(ref) | set(got) if ref.get(k) != got.get(k)}
            if bad:
                print(f"check failed: {name} differs on {sorted(bad)[:5]}",
                      file=sys.stderr)
            failed += len(bad)
        n = b = 0
        for d, _, names in os.walk(self.st["landed"]):
            for f in names:
                if f.endswith(".parquet"):
                    n += 1
                    b += os.path.getsize(os.path.join(d, f))
        w.diag.update(sink_files=n, sink_bytes=b)
        return min(failed, len(self.files))


WORKLOADS = {w.name: w for w in (OlapQueries, EventsStream)}
