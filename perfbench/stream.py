"""The stream workloads: the reference topology on the broker-free file
twin, with live dictionaries.

A streaming query reads Kafka-shaped frames with the package's file
stream source and runs every micro-batch through
``process_batch_with_refresh``: the control tables are re-read with
``read_control_dir`` each batch, and the output is JSON-encoded into a
file sink, one directory per batch.

Phases of a run, each with a query of its own:

1. drain: a pre-written backlog of
   ``cap_files * (drain_batches + DRAIN_WARMUP)``
   tick files is consumed at ``maxFilesPerTrigger = cap_files`` under
   the available-now trigger, batch after batch with no wait between
   them; the batches after the warm-up ones are timed
   (``drain_rows_per_s``);
2. live: the generator publishes one file per tick at the workload's
   fixed rate (open loop) and changes the control tables every
   ``control_every_s``; the query runs on a fixed processing-time
   trigger, and records created in the ``--seconds`` window that
   follows a warm-up give the latency percentiles;
3. check: every generated record is compared with the model.
"""

from __future__ import annotations

import io
import json
import os
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.json as pajson
import pyarrow.parquet as pq

from gen import DRAIN_WARMUP, FRAME_DDL, SPECS, TICK_S, World, stream_dirs, tick_file
from harness import BENCH_DIR, OUT_DIR, ROOT, Harness
from model import check_stream, latencies_ms, percentile, replay_versions
from spans import Tracer, exec_summary, median, read_event_log, tasks_of

LIVE_WARMUP_S = 2.0
# The live phase's fixed micro-batch interval: latency = wait for the
# next trigger + the batch's processing. With self-timed batches (the
# default trigger) a slower batch makes the next one bigger, which on a
# shared host turned a 20% slower CPU into a 30% higher p99 between runs.
LIVE_TRIGGER = {"processingTime": "2 seconds"}
# The drain runs its batches back to back, so no trigger interval caps it.
DRAIN_TRIGGER = {"availableNow": True}
WAIT_S = 60.0  # a whole run must end within 180 s
FALLBACK_LINE = "Code grows beyond 64 KB"


def _words(spark, path: str) -> list[str]:
    from pyspark.sql import functions as F

    from hw_kafka_streams_spark.streaming.pipeline import read_control_dir

    return [r.key for r in read_control_dir(spark, path).filter(F.col("value") == "ban").collect()]


class TopologyQuery:
    """One running streaming query of the reference topology."""

    def __init__(self, spark, tr: Tracer, name: str, msgs_dir: str, dims: dict, out_dir: str,
                 checkpoint: str, cap_files: int, trigger: dict, observe: bool) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from hw_kafka_streams_spark.sources.files import read_file_stream
        from hw_kafka_streams_spark.streaming import pipeline, serde

        self.batches: list[dict] = []

        def process(batch_df, batch_id: int) -> None:
            t_start = time.time()
            counts: dict = {}

            def sink(df) -> None:
                with tr.span("pipeline.sink"):
                    with tr.span("serde.encode"):
                        out = serde.encode_messages(df)
                    if observe:
                        obs_out = Observation("out")
                        out = out.observe(
                            obs_out,
                            F.count(F.lit(1)).alias("out"),
                            F.coalesce(F.sum(F.col("value").contains("*").cast("long")), F.lit(0))
                            .alias("censored"),
                        )
                    with tr.span("pipeline.sink_write"):
                        out.write.mode("overwrite").json(os.path.join(out_dir, f"batch={batch_id}"))
                    if observe:
                        counts.update(obs_out.get)

            with tr.span("pipeline.batch", trace_id=f"{name}-{batch_id}"):
                with tr.span("serde.decode"):
                    decoded = serde.decode_messages(batch_df)
                if observe:
                    obs_in = Observation("in")
                    decoded = decoded.observe(obs_in, F.count(F.lit(1)).alias("in"))
                with tr.span("pipeline.process_batch_with_refresh"):
                    pipeline.process_batch_with_refresh(
                        decoded,
                        blocked_provider=tr.wrap(
                            "pipeline.refresh_blocked",
                            lambda: pipeline.read_control_dir(spark, dims["blocked"]),
                        ),
                        words_provider=tr.wrap(
                            "pipeline.refresh_words", lambda: _words(spark, dims["words"])
                        ),
                        sink=sink,
                    )
                if observe:
                    counts.update(obs_in.get)
            self.batches.append({"id": batch_id, "start": t_start, "commit": time.time(),
                                 "files": [], "counts": counts})

        raw = read_file_stream(spark, msgs_dir, "parquet", schema=FRAME_DDL,
                               maxFilesPerTrigger=str(cap_files))
        self.checkpoint = checkpoint
        self.started = time.time()
        self.query = (
            raw.writeStream.foreachBatch(process)
            .option("checkpointLocation", checkpoint)
            .trigger(**trigger)
            .start()
        )

    def finish(self, timeout: float = WAIT_S) -> None:
        """Wait for an available-now query to end by itself, then stop."""
        if not self.query.awaitTermination(timeout):
            raise RuntimeError("drain did not finish in time")
        if self.query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {self.query.exception()}")
        self.stop()

    def source_log(self) -> dict[str, int]:
        """Input file name -> the batch that read it, from the file
        source's log in the checkpoint (plain and compacted entries)."""
        log_dir = os.path.join(self.checkpoint, "sources", "0")
        out: dict[str, int] = {}
        if not os.path.isdir(log_dir):
            return out
        for name in os.listdir(log_dir):
            if name.startswith(".") or name.endswith(".tmp"):
                continue
            with open(os.path.join(log_dir, name)) as f:
                for line in f.read().splitlines()[1:]:
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
        return out

    def committed_files(self) -> dict[str, int]:
        done = {b["id"] for b in list(self.batches)}
        return {f: b for f, b in self.source_log().items() if b in done}

    def wait_for(self, files: set[str], timeout: float = WAIT_S) -> None:
        """Block until every file in ``files`` is in a committed batch."""
        deadline = time.time() + timeout
        while True:
            if self.query.exception() is not None:
                raise RuntimeError(f"streaming query failed: {self.query.exception()}")
            missing = files - self.committed_files().keys()
            if not missing:
                return
            if time.time() > deadline:
                raise RuntimeError(f"{len(missing)} input files never processed")
            time.sleep(0.05)

    def stop(self) -> None:
        self.query.stop()
        self.stopped = time.time()
        by_batch: dict[int, list] = {}
        for f, b in self.committed_files().items():
            by_batch.setdefault(b, []).append(f)
        for b in self.batches:
            b["files"] = sorted(by_batch.get(b["id"], []))


def _drain(batches: list[dict], tick_rows: int) -> tuple[float, int]:
    """Seconds and rows of a drain's capped batches after the warm-up
    ones. The seconds are the median interval between batch commits
    times the number of those batches, so one slow batch does not move
    them."""
    drain = sorted(batches, key=lambda b: b["id"])
    gaps = [b["commit"] - a["commit"] for a, b in zip(drain, drain[1:])][DRAIN_WARMUP - 1:]
    rows = sum(len(b["files"]) for b in drain[DRAIN_WARMUP:]) * tick_rows
    return median(gaps) * len(gaps), rows


def _json_values(values: pa.Array) -> pa.Table:
    """Parse a column of JSON ``Message`` strings into (text, receiver)."""
    if len(values) == 0:
        return pa.table({"text": pa.array([], pa.string()), "receiver": pa.array([], pa.string())})
    joined = pc.binary_join(pa.ListArray.from_arrays([0, len(values)], pc.cast(values, pa.string())), "\n")
    return pajson.read_json(io.BytesIO(joined[0].as_buffer()))


def _read_inputs(dirs: dict, ticks: list[dict], commit_of: dict[str, float]) -> pa.Table:
    """The generated records, read back from the published frames, with
    each record's creation and commit times."""
    parts = []
    for t in ticks:
        name = tick_file(t["tick"])
        frames = pq.read_table(os.path.join(dirs["backlog" if t["backlog"] else "messages"], name))
        msgs = _json_values(frames.column("value").combine_chunks())
        n = frames.num_rows
        parts.append(pa.table({
            "seq": pc.cast(pc.utf8_slice_codeunits(msgs.column("text"), 0, 9), pa.int64()),
            "sender": pc.cast(frames.column("key"), pa.string()),
            "receiver": msgs.column("receiver"),
            "text": msgs.column("text"),
            "created": pa.array(np.full(n, t["due"])),
            "committed": pa.array(np.full(n, commit_of.get(name, np.nan))),
        }))
    return pa.concat_tables(parts)


def _read_outputs(out_dir: str) -> pa.Table:
    """The sink's rows as (key, text, receiver)."""
    parts = []
    for base, _, files in os.walk(out_dir):
        for name in files:
            path = os.path.join(base, name)
            if name.endswith(".json") and os.path.getsize(path) > 0:
                frames = pajson.read_json(path)
                msgs = _json_values(frames.column("value").combine_chunks())
                parts.append(pa.table({"key": frames.column("key"), "text": msgs.column("text"),
                                       "receiver": msgs.column("receiver")}))
    if not parts:
        return pa.table({c: pa.array([], pa.string()) for c in ("key", "text", "receiver")})
    return pa.concat_tables(parts)


def run(h: Harness, workload: str, seconds: int) -> dict:
    spec = SPECS[workload]
    tr = Tracer(h.trace)
    dirs = stream_dirs(h.work)
    gen = subprocess.Popen(
        [sys.executable, os.path.join(BENCH_DIR, "gen.py"), "stream", h.work, workload, str(h.seed)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=ROOT,
    )
    try:
        if gen.stdout.readline().strip() != "ready":
            raise RuntimeError("generator failed before publishing its backlog")

        def register(spark) -> None:
            from hw_kafka_streams_spark.streaming.pipeline import read_control_dir

            read_control_dir(spark, dirs["blocked"]).count()
            _words(spark, dirs["words"])

        phases = {"start": time.time()}
        setup_s = h.setup(register)
        phases["setup"] = time.time()
        spark = h.spark
        log_start = h.spark_log_size()
        out = os.path.join(h.work, "out")
        drain = TopologyQuery(spark, tr, "drain", dirs["backlog"], dirs, os.path.join(out, "drain"),
                              os.path.join(h.work, "ckpt_drain"), spec.cap_files, DRAIN_TRIGGER,
                              observe=h.trace)
        drain.finish()
        phases["drain"] = time.time()
        q = TopologyQuery(spark, tr, "live", dirs["messages"], dirs, os.path.join(out, "live"),
                          os.path.join(h.work, "ckpt_live"), spec.cap_files, LIVE_TRIGGER,
                          observe=h.trace)
        gen.stdin.write(f"go {LIVE_WARMUP_S + seconds}\n")
        gen.stdin.flush()
        if gen.stdout.readline().strip() != "done":
            raise RuntimeError("generator stopped early")
        gen.wait(timeout=30)
        with open(os.path.join(h.work, "gen_log.json")) as f:
            log = json.load(f)
        phases["live"] = time.time()
        q.wait_for({tick_file(t["tick"]) for t in log["ticks"] if not t["backlog"]})
        progress = q.query.recentProgress
        q.stop()
        phases["tail"] = time.time()
        log_end = h.spark_log_size()
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait()

    # ---- correctness
    world = World(spec, h.seed)
    commit_of = {f: b["commit"] for b in drain.batches + q.batches for f in b["files"]}
    inputs = _read_inputs(dirs, log["ticks"], commit_of)
    versions = replay_versions(world.initial_blocked, world.initial_words, log["versions"])
    failures = check_stream(inputs, _read_outputs(out), versions)

    phases["check"] = time.time()
    # ---- end-to-end
    drain_s, drain_rows = _drain(drain.batches, spec.tick_rows)
    live = [t for t in log["ticks"] if not t["backlog"]]
    t0 = live[0]["due"] - TICK_S
    window = (t0 + LIVE_WARMUP_S, t0 + LIVE_WARMUP_S + seconds)
    lat = latencies_ms(inputs, window)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": percentile(lat, 50),
        "latency_p99_ms": percentile(lat, 99),
        "fixed_work_s": drain_s,
    }
    detail = {
        "latency_samples": len(lat),
        "drain_rows": drain_rows,
        "drain_rows_per_s": drain_rows / drain_s,
        "offered_rows_per_s": spec.rate,
        "failed_frac": len(failures) / inputs.num_rows,
        "failures_sample": failures[:10],
        "setup_cycles_s": h.setup_cycles,
        "drain_batches": len(drain.batches),
        "live_batches": len(q.batches),
        "phases_s": {k: phases[k] - phases[p] for p, k in zip(list(phases), list(phases)[1:])},
    }
    result = {"attempted": inputs.num_rows, "failed": len(failures),
              "e2e": e2e, "detail": detail}
    if h.trace:
        result["layers"], result["layer_detail"] = _layers(
            h, spec, tr, drain, q, progress, log, (log_start, log_end), dirs)
        tr.dump(os.path.join(OUT_DIR, f"{workload}.spans.jsonl"))
    return result


# ------------------------------------------------------------ traced run only

def _prefix_costs(spark, tr: Tracer, files: list[str], dims: dict, rounds: int = 3) -> dict:
    """Executor cost per operator on one captured batch, by prefix
    differencing: scan, + decode, + block, + censor, + encode, each
    written to the noop sink. One untimed round, then ``rounds``
    interleaved timed rounds; the median times are differenced."""
    from hw_kafka_streams_spark.operators.censor import block_messages, censor_column
    from hw_kafka_streams_spark.streaming import pipeline, serde

    raw = spark.read.schema(FRAME_DDL).parquet(*files)
    rows = raw.count()
    blocked = pipeline.read_control_dir(spark, dims["blocked"]).cache()
    blocked.count()
    decoded = serde.decode_messages(raw)
    survived = block_messages(decoded, blocked)
    censored = survived.withColumn("text", censor_column("text", _words(spark, dims["words"])))
    prefixes = {
        "scan": raw,
        "decode": decoded,
        "block": survived,
        "censor": censored,
        "encode": serde.encode_messages(censored),
    }
    runs: dict[str, list[float]] = {name: [] for name in prefixes}
    for r in range(rounds + 1):
        for name, df in prefixes.items():
            t0 = time.perf_counter()
            with tr.span(f"prefix.{name}"):
                df.write.format("noop").mode("overwrite").save()
            if r:
                runs[name].append(time.perf_counter() - t0)
    blocked.unpersist()
    times = {name: median(v) for name, v in runs.items()}
    names = list(prefixes)
    diff = {n: max(0.0, times[n] - times[names[i - 1]]) for i, n in enumerate(names) if i}
    return {"rows": rows, "prefix_s": times, "diff_s": {"scan": times["scan"], **diff}}


def _one_core_drain(h: Harness, spec, dirs: dict) -> float:
    """Drain rate of the same topology on ``local[1]``."""
    drain_dir = os.path.join(h.work, "drain1")
    os.makedirs(drain_dir)
    for t in range(spec.cap_files * (DRAIN_WARMUP + min(spec.drain_batches, 2))):
        name = tick_file(t)
        os.link(os.path.join(dirs["backlog"], name), os.path.join(drain_dir, name))
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    try:
        spark = h.start_session()
        q = TopologyQuery(spark, Tracer(False), "drain1", drain_dir, dirs, os.path.join(h.work, "out1"),
                          os.path.join(h.work, "ckpt1"), spec.cap_files, DRAIN_TRIGGER, observe=False)
        q.finish(timeout=120)
        h.stop_session()
    finally:
        del os.environ["SPARK_GRAFT_CPUS"]
    secs, rows = _drain(q.batches, spec.tick_rows)
    return rows / secs


def _layers(h, spec, tr, drain, q, progress, log, log_span, dirs) -> tuple[dict, dict]:
    live_batches = q.batches
    live_ids = {f"live-{b['id']}" for b in live_batches}

    own = tr.self_time()

    def per_batch(names: tuple, self_only: bool = False) -> list[float]:
        by: dict[str, float] = {}
        for s in tr.spans:
            if s.name in names and s.trace_id in live_ids:
                by[s.trace_id] = by.get(s.trace_id, 0.0) + (own[s.id] if self_only else s.end - s.start)
        return list(by.values())

    prog = [p for p in progress if p.numInputRows > 0]

    def dur(key: str) -> float:
        return median(p.durationMs.get(key, 0) for p in prog)

    # backlog seen by each live batch: rows published minus rows committed
    backlog = []
    for b in live_batches:
        published = sum(1 for t in log["ticks"] if not t["backlog"] and t["pub"] <= b["start"])
        committed = sum(len(c["files"]) for c in q.batches if c["commit"] <= b["start"])
        backlog.append((published - committed) * spec.tick_rows)

    fallbacks = h.count_log(FALLBACK_LINE, *log_span)
    counts = {k: sum(b["counts"].get(k, 0) for b in drain.batches + q.batches)
              for k in ("in", "out", "censored")}
    lags = [(t["pub"] - t["due"]) * 1000.0 for t in log["ticks"] if not t["backlog"]]

    # the last capped backlog batch: the biggest batch the run made
    last_backlog = max(drain.batches, key=lambda b: b["id"])
    files = [os.path.join(dirs["backlog"], f) for f in last_backlog["files"]]
    costs = _prefix_costs(h.spark, tr, files, dirs)
    per_mrow = {k: v * 1e6 / max(costs["rows"], 1) for k, v in costs["diff_s"].items()}

    one_core = _one_core_drain(h, spec, dirs)  # stops the measured session: its event log is complete
    tasks, _ = tasks_of(read_event_log(h.event_dir))
    stream_tasks = [t for t in tasks if drain.started <= t.launch <= q.stopped]
    execs = exec_summary(stream_tasks, {t.job for t in stream_tasks})

    layers = {
        "session.get_spark_s": h.get_spark_s[0],  # the cold one
        "pipeline.refresh_s": median(per_batch(("pipeline.refresh_blocked", "pipeline.refresh_words"))),
        # decode + filtered_messages (the self time of
        # process_batch_with_refresh, whose children are the providers
        # and the sink) + encode
        "pipeline.build_s": median(per_batch(
            ("serde.decode", "pipeline.process_batch_with_refresh", "serde.encode"), self_only=True)),
        "pipeline.sink_s": median(per_batch(("pipeline.sink_write",))),
        "stream.trigger_ms_p50": dur("triggerExecution"),
        "stream.add_batch_ms_p50": dur("addBatch"),
        "stream.query_planning_ms_p50": dur("queryPlanning"),
        "stream.latest_offset_ms_p50": dur("latestOffset"),
        "stream.wal_commit_ms_p50": dur("walCommit"),
        "stream.batches": float(len(live_batches)),
        "stream.rows_per_batch_p50": median(len(b["files"]) * spec.tick_rows for b in live_batches),
        "sources.backlog_rows_max": float(max(backlog, default=0)),
        "sources.scan_s_per_mrow": per_mrow["scan"],
        "serde.decode_s_per_mrow": per_mrow["decode"],
        "serde.encode_s_per_mrow": per_mrow["encode"],
        "censor.block_s_per_mrow": per_mrow["block"],
        "censor.censor_s_per_mrow": per_mrow["censor"],
        "censor.codegen_fallbacks": fallbacks / max(len(drain.batches) + len(q.batches), 1),
        "gen.lag_ms_p99": percentile(lags, 99) if lags else 0.0,
        "scale.drain_1core_rows_per_s": one_core,
        **execs,
    }
    detail = {
        "prefix_rows": costs["rows"],
        "prefix_s": costs["prefix_s"],
        "codegen_fallback_lines": fallbacks,
        # rows at the layer boundaries, drain and live: fixed by the seed
        # and the control timing, so a check rather than a metric
        "topology": {"in": counts["in"], "blocked": counts["in"] - counts["out"],
                     "censored": counts["censored"], "out": counts["out"]},
        # seconds per batch by layer: the driver-side spans of a live
        # batch, and each operator's executor cost on the captured batch
        "layer_s_per_batch": {
            "streaming.pipeline (refresh)": layers["pipeline.refresh_s"],
            "streaming.pipeline (build)": layers["pipeline.build_s"],
            "sources (scan)": costs["diff_s"]["scan"],
            "streaming.serde (decode)": costs["diff_s"]["decode"],
            "streaming.serde (encode)": costs["diff_s"]["encode"],
            "operators.censor (block)": costs["diff_s"]["block"],
            "operators.censor (censor)": costs["diff_s"]["censor"],
        },
    }
    return layers, detail
