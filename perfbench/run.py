"""Streaming benchmark of the IoT pipeline: freshness and throughput of
``streaming.run_stream`` on seeded generator input.

Usage (from the repository root)::

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 10 --trace 0

Both workloads are closed loops with one file per micro-batch: the next
file lands as soon as the batch before it commits (README.md says why
each exists and why neither is an open loop):

- ``trickle``: 20-event files. Per-batch fixed cost dominates.
- ``backfill``: 1,000-event files. Per-row work weighs more.

Every run starts from an empty warehouse in its own scratch directory,
warms up with one micro-batch, lands files for ``--seconds``, waits for
the last one to commit, then checks the warehouse against the
generator's labels. The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics from a traced run with
``--trace 1``).
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from datetime import datetime, timedelta  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from stats import files_to_batches, median, tail_percentile, union_length  # noqa: E402

from iot_real_time_data_pipeline_spark import generator as gen  # noqa: E402

WARMUP_EVENTS = 20
FILE_EVENTS = {"trickle": 20, "backfill": 1000}
REPLAY_PREVIOUS = 2  # each file re-sends this many events of the file before it
REPEAT_SHARE = 0.1  # and repeats this share of its own events
POLL_S = 0.01
SLOW_FILE_S = 120.0
EVENT_CADENCE_S = 3.0
EVENT_EPOCH = datetime(2024, 3, 1, 6, 0, 0)


class Delivery:
    """One landed file: its payload lines and what the engine must do
    with each (the generator's ``expected_class`` labels)."""

    def __init__(self, name: str, events: list[dict]):
        self.name = name
        self.events = events
        self.due = None  # when the batch before it committed (epoch s)
        self.landed = None  # actual landing time

    @property
    def lines(self) -> list[str]:
        return [e["raw"].replace("\n", " ") for e in self.events]


def _event_id(event: dict) -> str | None:
    try:
        return json.loads(event["raw"]).get("event_id")
    except ValueError:
        return None


def make_deliveries(file_events: int, seed: int, n_files: int) -> list[Delivery]:
    """Seeded input: a warm-up file then ``n_files`` measured files. Each
    measured file holds fresh generator events, a re-sent slice of the
    file before it (a replay across batches) and repeats of some of its
    own events (a replay within the batch): at-least-once delivery."""
    out: list[Delivery] = []
    offset = 0
    for k in range(n_files + 1):
        n = WARMUP_EVENTS if k == 0 else file_events
        events = gen.generate_events(
            n, seed=seed * 1_000_003 + k,
            start=EVENT_EPOCH + timedelta(seconds=EVENT_CADENCE_S * offset),
            cadence_seconds=EVENT_CADENCE_S,
        )
        offset += n
        for e in events:
            e["replay"] = False
        if k >= 1:
            replayed = out[k - 1].events[:REPLAY_PREVIOUS] + events[: int(n * REPEAT_SHARE)]
            events += [dict(e, replay=True) for e in replayed]
        out.append(Delivery(f"f{k:05d}.jsonl", events))
    return out


class Run:
    """Scratch directories and the Spark session of one benchmark run."""

    def __init__(self, workload: str, seed: int):
        self.dir = os.path.join(ROOT, ".perfbench_runs", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("src", "stage", "tmp"):
            os.makedirs(os.path.join(self.dir, sub))
        self.src = os.path.join(self.dir, "src")
        self.stage = os.path.join(self.dir, "stage")
        self.warehouse = os.path.join(self.dir, "warehouse")
        self.checkpoint = os.path.join(self.dir, "checkpoint")
        tmp = os.path.join(self.dir, "tmp")
        # Before the JVM starts: Spark scratch and every temp file of the
        # run stay in this run's directory, so no run warms the next.
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        # Paths only, no tuning, for every JVM the run starts (the
        # launcher's too): temp files go to the run's directory, and no
        # perf-data file goes to /tmp.
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
            os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        self.spark = None
        self.session_ready = self.setup_end = None

    def start_session(self):
        from iot_real_time_data_pipeline_spark.session import build_session

        self.spark = build_session(
            "perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.dir, "spark-warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_ready = time.time()
        return self.spark

    def land(self, d: Delivery) -> None:
        staged = os.path.join(self.stage, d.name)
        with open(staged, "w") as fh:
            fh.write("".join(line + "\n" for line in d.lines))
        os.rename(staged, os.path.join(self.src, d.name))
        d.landed = time.time()

    def commit_time(self, batch_id: int) -> float | None:
        try:
            return os.stat(os.path.join(self.checkpoint, "commits", str(batch_id))).st_mtime
        except FileNotFoundError:
            return None

    def file_commit(self, mapping: dict[str, int], name: str) -> float | None:
        """Commit time of the batch that read file ``name``, if any."""
        batch = mapping.get(name)
        return None if batch is None else self.commit_time(batch)

    def wait_committed(self, names: list[str], deadline: float, poll_s: float) -> dict[str, int]:
        """Block until every named file's batch has committed, or until
        ``deadline``; returns the file-to-batch map read last."""
        log = os.path.join(self.checkpoint, "sources", "0")
        while True:
            mapping = files_to_batches(log) if os.path.isdir(log) else {}
            if all(self.file_commit(mapping, n) is not None for n in names):
                return mapping
            if time.time() > deadline:
                return mapping
            time.sleep(poll_s)

    def peak_rss_mb(self) -> float:
        pids = [os.getpid(), self.spark.sparkContext._gateway.proc.pid]
        total_kb = 0
        for pid in pids:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        return total_kb / 1024.0

    def close(self) -> None:
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            proc = gateway.proc
            self.spark.stop()
            # Close the Python side first, so that Java objects collected
            # later send nothing to a JVM that has gone.
            gateway.shutdown()
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
                proc.kill()
                proc.wait()
        shutil.rmtree(self.dir, ignore_errors=True)


def drive(run: Run, deliveries: list[Delivery], seconds: float):
    """Closed loop: land the warm-up file and wait for its batch (set-up),
    then land each next file as soon as the batch before it commits,
    for as long as ``seconds`` have not passed. One file per batch."""
    from iot_real_time_data_pipeline_spark.streaming import run_stream

    run.land(deliveries[0])
    query = run_stream(run.spark, run.src, run.warehouse, run.checkpoint,
                       max_files_per_trigger=1, available_now=False)
    mapping = run.wait_committed([deliveries[0].name], time.time() + SLOW_FILE_S, POLL_S)
    if run.file_commit(mapping, deliveries[0].name) is None:
        raise RuntimeError("the warm-up micro-batch did not commit")
    run.setup_end = due = time.time()
    files = []
    for d in deliveries[1:]:
        if time.time() - run.setup_end >= seconds:
            break
        d.due = due
        run.land(d)
        files.append(d)
        mapping = run.wait_committed([d.name], time.time() + SLOW_FILE_S, POLL_S)
        due = run.file_commit(mapping, d.name)
        if due is None:
            break  # a stalled stream: the file counts as failed
    return query, files


def executed_batches(query) -> dict[int, dict]:
    """Progress of every micro-batch that ran, keyed by batch id."""
    out = {}
    for p in query.recentProgress:
        if "addBatch" in p.durationMs:
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            out[p.batchId] = {"start": start,
                              "end": start + p.durationMs["triggerExecution"] / 1000.0,
                              "ms": dict(p.durationMs)}
    return out


def read_warehouse(run: Run) -> dict:
    import pyarrow.dataset as ds

    def dataset(name, **kw):
        path = os.path.join(run.warehouse, name)
        return ds.dataset(path, format="parquet", **kw) if os.path.isdir(path) else None

    fact = dataset("star/fact_sensor_readings")
    dead = dataset("dead_letter", partitioning="hive")
    return {
        "fact_ids": fact.to_table(columns=["evt_id"]).column("evt_id").to_pylist() if fact else [],
        "fact_files": len(fact.files) if fact else 0,
        "dead_letters": dead.count_rows() if dead else 0,
    }


def check(deliveries: list[Delivery], files: list[Delivery], mapping: dict, run: Run,
          wh: dict) -> tuple[bool, int, dict]:
    """Compare the warehouse with the generator's labels. Returns
    (all correct, failed measured files, per-file freshness)."""
    landed = [deliveries[0]] + files
    good = {"VALID", "WARNING"}
    expected_fact = {_event_id(e) for d in landed for e in d.events
                     if e["expected_class"] in good}
    expected_dead = sum(e["expected_class"].startswith("DEAD_LETTER")
                        for d in landed for e in d.events)
    counts: dict[str, int] = {}
    for i in wh["fact_ids"]:
        counts[i] = counts.get(i, 0) + 1
    globally_ok = (set(counts) == expected_fact and wh["dead_letters"] == expected_dead)
    freshness, failed = {}, 0
    for d in files:
        commit = run.file_commit(mapping, d.name)
        ids = [_event_id(e) for e in d.events if e["expected_class"] in good]
        ok = (commit is not None and commit - d.due <= SLOW_FILE_S
              and all(counts.get(i) == 1 for i in ids))
        if commit is not None:
            freshness[d.name] = commit - d.due
        failed += not ok
    if not globally_ok:
        failed = len(files)
    return globally_ok and failed == 0, failed, freshness


def layer_metrics(tracer, run: Run, batches: dict, measured: list[int], files, mapping,
                  deliveries, wh: dict) -> dict:
    from tracing import spark_stage_rows

    jobs, stages = spark_stage_rows(run.spark)
    per: dict[str, list[float]] = {}

    def add(name, value):
        per.setdefault(name, []).append(value)

    for b in measured:
        info = batches[b]
        lo, hi = info["start"], info["end"]
        wall = hi - lo
        ms = info["ms"]
        add("sources.latest_offset_ms", ms.get("latestOffset", 0))
        add("sources.get_batch_ms", ms.get("getBatch", 0))
        add("stream.query_planning_ms", ms.get("queryPlanning", 0))
        add("checkpoint.wal_commit_ms", ms.get("walCommit", 0))
        add("checkpoint.commit_offsets_ms", ms.get("commitOffsets", 0))
        spans = [s for s in tracer.spans if s["batch"] == b]
        sums: dict[str, float] = {}
        for s in spans:
            key = s["name"].split(".")[0] if s["name"].startswith("validation.") else s["name"]
            sums[key] = sums.get(key, 0.0) + (s["end"] - s["start"])
        roots = [s for s in spans if s["name"] == "loader.add_batch"]
        for root in roots:
            children = [(s["start"], s["end"]) for s in spans if s["parent"] == root["id"]]
            add("loader.add_batch_ms", 1000 * (root["end"] - root["start"]))
            add("loader.self_ms", 1000 * (root["end"] - root["start"] - union_length(children)))
        add("loader.is_empty_ms", 1000 * sums.get("loader.is_empty", 0.0))
        add("loader.history_read_ms", 1000 * sums.get("loader.history_read", 0.0))
        add("validation.build_ms", 1000 * sums.get("validation", 0.0))
        add("throttle.build_ms", 1000 * sums.get("throttle.build", 0.0))
        add("star_schema.build_ms", 1000 * sums.get("star_schema.build", 0.0))
        for kind in ("alerts", "lake", "dead_letter", "dims", "fact"):
            add(f"sink.{kind}_s", sums.get(f"sink.{kind}", 0.0))
        in_batch = [j for j in jobs if lo <= j["start"] <= hi]
        st = [s for s in stages if lo <= s["start"] <= hi]
        add("spark.jobs_per_batch", len(in_batch))
        add("spark.stages_per_batch", len(st))
        add("spark.tasks_per_batch", sum(s["tasks"] for s in st))
        add("spark.job_time_share",
            union_length([(j["start"], j["end"]) for j in in_batch], lo, hi) / wall)
        add("spark.shuffle_bytes_per_batch", sum(s["shuffle_bytes"] for s in st))
        add("spark.gc_ms_per_batch", sum(s["gc_ms"] for s in st))
        add("trace.batch_p50_s", wall)
    out = {k: median(v) for k, v in per.items()}

    windows = [(batches[b]["start"], batches[b]["end"]) for b in measured]
    written = 0
    for dirpath, _, names in os.walk(run.warehouse):
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                mtime = os.stat(os.path.join(dirpath, n)).st_mtime
                written += any(lo <= mtime <= hi for lo, hi in windows)
    out["sink.files_per_batch"] = written / len(measured)

    landed = [deliveries[0]] + files
    good = {"VALID", "WARNING"}
    sent = [e for d in landed for e in d.events if e["expected_class"] in good]
    replays = sum(e["replay"] for e in sent)
    out["loader.replay_drop_ratio"] = (len(sent) - len(wh["fact_ids"])) / replays if replays else 1.0
    out["throttle.sent_ratio"] = _sent_ratio(run)
    out["warehouse.fact_rows"] = len(wh["fact_ids"])
    out["warehouse.fact_files"] = wh["fact_files"]
    out["loadgen.lag_max_s"] = max(d.landed - d.due for d in files)
    return out


def _sent_ratio(run: Run) -> float:
    """Alerts written over alerts fired on the lake rows."""
    import pyarrow.dataset as ds

    lake = ds.dataset(os.path.join(run.warehouse, "lake"), format="parquet",
                      partitioning="hive").to_table(columns=["alerts"]).column("alerts")
    fired = sum(len(json.loads(a)) for a in lake.to_pylist() if a)
    written = ds.dataset(os.path.join(run.warehouse, "alerts"), format="parquet").count_rows()
    return written / fired if fired else 1.0


END_TO_END_UNITS = {"setup_s": "s", "freshness_p50_s": "s", "batch_p50_s": "s",
                    "events_per_s": "events/s"}
PER_LAYER_UNITS = {
    "sources.latest_offset_ms": "ms", "sources.get_batch_ms": "ms",
    "stream.query_planning_ms": "ms", "checkpoint.wal_commit_ms": "ms",
    "checkpoint.commit_offsets_ms": "ms", "loader.add_batch_ms": "ms",
    "loader.self_ms": "ms", "loader.is_empty_ms": "ms", "loader.history_read_ms": "ms",
    "validation.build_ms": "ms", "throttle.build_ms": "ms", "star_schema.build_ms": "ms",
    "sink.alerts_s": "s", "sink.lake_s": "s", "sink.dead_letter_s": "s",
    "sink.dims_s": "s", "sink.fact_s": "s", "sink.files_per_batch": "count",
    "spark.jobs_per_batch": "count", "spark.stages_per_batch": "count",
    "spark.tasks_per_batch": "count", "spark.job_time_share": "ratio",
    "spark.shuffle_bytes_per_batch": "bytes", "spark.gc_ms_per_batch": "ms",
    "loader.replay_drop_ratio": "ratio", "throttle.sent_ratio": "ratio",
    "warehouse.fact_rows": "count", "warehouse.fact_files": "count",
    "loadgen.lag_max_s": "s",
    "trace.batch_p50_s": "s", "memory.peak_rss_mb": "MB",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["trickle", "backfill"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    gen_start = time.time()
    # More files than a closed loop of >= 4 s batches can take in time.
    deliveries = make_deliveries(FILE_EVENTS[args.workload], args.seed,
                                 int(args.seconds / 4) + 2)
    gen_s = time.time() - gen_start

    run = Run(args.workload, args.seed)
    tracer = None
    try:
        run.start_session()
        if args.trace:
            from tracing import Tracer

            tracer = Tracer()
            tracer.install()
        query, files = drive(run, deliveries, args.seconds)
        query.stop()
        batches = executed_batches(query)
        log = os.path.join(run.checkpoint, "sources", "0")
        mapping = files_to_batches(log)
        measured = sorted({mapping[d.name] for d in files if d.name in mapping} & set(batches))
        wh = read_warehouse(run)
        correct, failed, freshness = check(deliveries, files, mapping, run, wh)
        if not measured:
            raise RuntimeError("no micro-batch committed in the measured window")

        events = {b: 0 for b in measured}
        for d in files:
            if mapping.get(d.name) in events:
                events[mapping[d.name]] += len(d.events)
        busy_s = sum(batches[b]["ms"]["triggerExecution"] for b in measured) / 1000.0
        tail = tail_percentile(list(freshness.values()))
        detail = {
            "workload": args.workload, "seed": args.seed, "files": len(files),
            "batches": len(measured), "events": sum(events.values()),
            "input_generation_s": gen_s,
            "session_s": run.session_ready - PROCESS_START - gen_s,
            "freshness_tail": None if tail is None else
            {"value_s": tail[0], "percentile": tail[1], "n": tail[2]},
        }
        if args.trace:
            values = layer_metrics(tracer, run, batches, measured, files, mapping, deliveries, wh)
            values["memory.peak_rss_mb"] = run.peak_rss_mb()
            units = PER_LAYER_UNITS
        else:
            values = {
                "setup_s": run.setup_end - PROCESS_START - gen_s,
                "freshness_p50_s": median(list(freshness.values())),
                "batch_p50_s": median([batches[b]["ms"]["triggerExecution"] / 1000.0
                                       for b in measured]),
                "events_per_s": sum(events.values()) / busy_s,
            }
            units = END_TO_END_UNITS
    finally:
        if tracer is not None:
            tracer.uninstall()
        run.close()

    print(json.dumps(detail))
    print(json.dumps({
        "correct": correct, "attempted": len(files), "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
