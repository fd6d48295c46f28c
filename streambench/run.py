#!/usr/bin/env python3
"""Streaming-enrich benchmark: raw collector messages in, sinks on disk out.

    python3 streambench/run.py --workload web_get --seed 1 --seconds 5 --trace 0

Each micro-batch of generated collector messages (``value BINARY``) is
handed to the foreachBatch body that ``run_stream`` installs
(``streaming.runner.make_batch_processor``), which writes good TSV, bad
JSON, failed TSV and metadata sinks under ``.streambench/``. The load is a
closed loop: one driver, the next batch is handed over only after the
previous one committed. One untimed warm-up batch comes first: every
k-th message of the first timed batch, as one partition, into reference
sinks. After timing, the sinks are checked against the generator's
labels, against the reference rows, and the metadata sink against the
good sink (see check.py); the run exits 1 when a check fails.

``--trace 1`` traces every timed batch instead (see layers.py) and
prints the per-layer metrics. The last line of standard output is always
one JSON object; a full record (batch latencies and CPU times, host
provenance, check results, spans) goes to ``.streambench/records/``. See
README.md.
"""

from __future__ import annotations

import time

_T_PROCESS = time.monotonic()  # setup_s origin

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from datetime import datetime, timezone  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".streambench"

# Executor cores. A batch is bound by the driver building and planning it
# on one thread; on a 4-vCPU shared host, local[2] ran batches 10-25 %
# faster and steadier than local[4] (fewer threads fighting the driver,
# less hypervisor steal), and the single-partition reference still
# differs from the timed run's parallelism.
MAX_CPUS = 2
WARMUP_EVENTS = 300  # about this many events in the warm-up batch (timed: gen.BATCH_EVENTS)
HAND_DEADLINE_S = 100.0  # no new batch after this much of the run (180 s cap)
JVM_EXIT_GRACE_S = 2.0  # then the gateway JVM is killed (see stop_jvm)
STEAL_FLAG_SHARE = 0.02  # hypervisor steal, as a share of the run's cpu time, that flags it


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# --- host provenance ---------------------------------------------------------

def _steal_ticks() -> int:
    try:
        with open("/proc/stat") as f:
            cells = f.readline().split()
        return int(cells[8])
    except (OSError, IndexError, ValueError):
        return 0


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, ValueError):
        pass
    return 0.0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the gateway JVM, the Python workers), reaped children included."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    cells = f.read().rsplit(")", 1)[1].split()
            except OSError:  # ended meanwhile
                continue
            # after the command: state, ppid, ..., utime, stime, cutime, cstime
            stats[int(d)] = (int(cells[1]), sum(int(c) for c in cells[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


# --- statistics --------------------------------------------------------------

def tail_latency(samples: list[float]) -> tuple[float, str]:
    """The highest nearest-rank percentile with at least ten samples beyond
    it; with ten samples or fewer no percentile qualifies and the maximum
    is reported. Returns (value, description)."""
    s = sorted(samples)
    n = len(s)
    rank = n - 10
    if rank < 1:
        return s[-1], f"max of {n} batches (fewer than 11, so no percentile has ten beyond it)"
    return s[rank - 1], f"p{100.0 * rank / n:.1f} of {n} batches"


# --- inputs -----------------------------------------------------------------

def write_inputs(g, inputs: Path) -> tuple[Path, Path]:
    """The static registry (Iglu layout) and the geo range table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    registry = inputs / "iglu"
    for uri, schema in g.schemas.items():
        path = registry / uri[len("iglu:"):]
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(schema))
    names = ["ip_start", "ip_end", "geo_country", "geo_region", "geo_city", "geo_zipcode",
             "geo_latitude", "geo_longitude", "geo_region_name", "geo_timezone", "ip_isp",
             "ip_organization", "ip_domain", "ip_netspeed"]
    types = [pa.int64()] * 2 + [pa.string()] * 4 + [pa.float32()] * 2 + [pa.string()] * 6
    cols = [pa.array([r[i] for r in g.geo_rows], type=t) for i, t in enumerate(types)]
    geo = inputs / "geo.parquet"
    pq.write_table(pa.table(cols, names=names), geo)
    return geo, registry


def enrichments_config(g, geo: Path, registry: Path):
    from enrich_spark.config import EnrichmentsConfig, IgluConf, IpLookupsConf

    cfg = EnrichmentsConfig.default()
    cfg.ip_lookups = IpLookupsConf(geo_path=str(geo))
    cfg.iglu = IgluConf(registry_dirs=[str(registry)], strict=True)
    cfg.accept_invalid_atomic = g.accept_invalid_atomic
    return cfg


# --- spark ------------------------------------------------------------------

def _isolate_scratch(run_dir: Path) -> None:
    """Keep every file Spark and its workers write inside the run dir."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)  # executors import enrich_spark
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
        "--conf", shlex.quote(f"spark.hadoop.hadoop.tmp.dir={tmp}"),
        "pyspark-shell"])


def start_session(cpus: int):
    from enrich_spark.session import get_spark

    spark = get_spark("streambench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Py4J gateway JVM this process launched and wait for it;
    kill it if it has not exited ``JVM_EXIT_GRACE_S`` after the end of its
    stdin. Its Python workers already ended with the session."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except (Py4JError, OSError):  # already closed
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            # After a few batches the JVM spent 4-40 s exiting, at full CPU,
            # with the session already stopped and the sinks checked;
            # nothing it does then matters to the run.
            proc.wait(timeout=JVM_EXIT_GRACE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def job_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks Spark ran under one job group."""
    st = sc.statusTracker()
    stages = tasks = 0
    jobs = st.getJobIdsForGroup(group)
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            si = st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def _frame(spark, messages: list[bytes]):
    return spark.createDataFrame([(m,) for m in messages], "value binary")


def _sinks(root: Path):
    from enrich_spark.streaming.runner import StreamSinks

    return StreamSinks(**{f"{s}_path": str(root / s) for s in ("good", "bad", "failed", "metadata")})


class Feeder:
    """Hands micro-batches to ``process`` one at a time."""

    def __init__(self, spark, process):
        self.spark, self.process = spark, process
        self.handed = []  # every Batch handed over, in order
        self.raised = 0   # events of batches whose process() raised
        self.cpu_s = []   # CPU seconds of each batch (tree_cpu_s)

    def hand(self, b, df, batch_id: int) -> float:
        """process() one batch; returns its latency to sink commit. Only
        the jobs of this process() run under the job group
        ``streambench-<batch_id>``."""
        sc = self.spark.sparkContext
        self.handed.append(b)
        sc.setJobGroup(f"streambench-{batch_id}", f"micro-batch {batch_id}")
        c0 = tree_cpu_s()
        t0 = time.monotonic()
        try:
            self.process(df, batch_id)
        except Exception:  # noqa: BLE001 — count the batch as failed, keep going
            traceback.print_exc()
            self.raised += b.n_events
        finally:
            latency = time.monotonic() - t0
            self.cpu_s.append(tree_cpu_s() - c0)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return latency


def declared_metrics(kind: str) -> dict[str, str]:
    """name → unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares; a run prints exactly these."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def _untraced_p50(workload: str, seed: int) -> float | None:
    """batch_latency_p50_s of the newest untraced run of the same workload
    and seed in this checkout, if there was one."""
    recs = sorted((WORK / "records").glob(f"{workload}-seed{seed}-trace0-*.json"),
                  key=lambda p: p.stat().st_mtime)
    return json.loads(recs[-1].read_text())["end_to_end"]["batch_latency_p50_s"] if recs else None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args) -> int:
    sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec("enrich_spark") is None:
        print("streambench: the program under test (enrich_spark) is not importable "
              f"from {ROOT}", file=sys.stderr)
        return 2
    from streambench import check, gen

    if args.workload not in gen.WORKLOADS:
        print(f"streambench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(gen.WORKLOADS)}", file=sys.stderr)
        return 2

    host = {"utc_start": datetime.now(timezone.utc).isoformat(timespec="seconds"),
            "load_1m_at_start": os.getloadavg()[0]}
    steal0 = _steal_ticks()
    cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))
    run_dir = WORK / f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate_scratch(run_dir)

    g = gen.Generator(args.workload, args.seed)
    geo, registry = write_inputs(g, run_dir / "inputs")

    from enrich_spark.streaming.runner import StreamConfig, enrich_batch, make_batch_processor

    from streambench import layers

    cfg = enrichments_config(g, geo, registry)
    stream_cfg = StreamConfig(enrichments=cfg)
    batch = g.next_batch()
    # the warm-up: every k-th message of the first timed batch, carrying
    # about WARMUP_EVENTS events. Spread over the whole batch, they land in
    # every partition of the timed run.
    warm = batch.messages[::max(1, batch.n_events // WARMUP_EVENTS)]
    try:
        spark = start_session(cpus)
        # Warm-up, one untimed batch as ONE partition, into reference sinks.
        # It pays the one-time costs (JVM JIT, codegen, the first Python
        # worker) and runs the data path single-core, so its rows are the
        # reference the timed run's rows must contain. The first timed
        # batch is the JVM's second; it runs about 15 % slower than later
        # ones, the same on every run.
        ref_dir = run_dir / "ref-sinks"
        ref_process = make_batch_processor(spark, _sinks(ref_dir), stream_cfg)
        t0 = time.monotonic()
        ref_process(_frame(spark, warm).coalesce(1), 0)
        ref_s = time.monotonic() - t0
        setup_s = time.monotonic() - _T_PROCESS

        sinks_dir = run_dir / "sinks"
        feeder = Feeder(spark, make_batch_processor(spark, _sinks(sinks_dir), stream_cfg))
        tracer = layers.Tracer()
        latencies, traced, groups = [], [], []
        timed_events = 0
        t_loop = time.monotonic()
        bid = 1
        while bid == 1 or (time.monotonic() - t_loop < args.seconds
                           and time.monotonic() - _T_PROCESS < HAND_DEADLINE_S):
            b = batch if bid == 1 else g.next_batch()
            df = _frame(spark, b.messages)
            if args.trace:
                t_batch = time.monotonic()
                m = layers.trace_batch(spark, df, cfg, tracer, bid, stream_cfg.sink_max_bytes,
                                       stream_cfg.max_bytes_single_payload)
                m["sources.bytes_in"] = b.bytes_in
                t0 = time.monotonic()
                enrich_batch(df, stream_cfg, spark)  # plan only: no Spark job runs
                m["runner.plan_s"] = tracer.record("runner.plan", t0, time.monotonic(),
                                                   "batch", bid)
                t0 = time.monotonic()
                lat = feeder.hand(b, df, bid)
                tracer.record("runner", t0, t0 + lat, "batch", bid)
                tracer.record("batch", t_batch, time.monotonic(), None, bid)
                m["runner.batch_s"] = lat
                m["runner.self_s"] = lat - sum(m[k] for k in layers.LAYER_SPANS)
                traced.append(m)
                groups.append(f"streambench-{bid}")
            else:
                latencies.append(feeder.hand(b, df, bid))
                timed_events += b.n_events
            bid += 1
        counts = [job_counts(spark.sparkContext, gr) for gr in groups]
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        peak_rss = _vm_hwm_mb("self") + (_vm_hwm_mb(jvm.pid) if jvm else 0.0)
        labels = [lab for b in feeder.handed for lab in b.labels]
        sinks, ref = check.read_sinks(sinks_dir), check.read_sinks(ref_dir)
        lab = check.check_labels(sinks, labels)
        missing = check.missing_reference_rows(ref, sinks)
        meta_bad = check.metadata_mismatches(sinks) + check.metadata_mismatches(ref)
    finally:
        from pyspark.sql import SparkSession

        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        stop_jvm()

    steal_s = (_steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    # /proc/stat steal is host-wide: compare it with every core's time
    steal_share = steal_s / ((time.monotonic() - _T_PROCESS) * (os.cpu_count() or 1))
    host.update(cores_used=cpus, steal_cpu_s=round(steal_s, 3),
                steal_share=round(steal_share, 4), steal_flagged=steal_share >= STEAL_FLAG_SHARE)
    attempted = len(labels)
    # an event whose reference row is missing came out different on two partitions
    failed = min(attempted, lab["unaccounted"] + missing + feeder.raised)
    correct = lab["counts_ok"] and missing == 0 and meta_bad == 0 and feeder.raised == 0

    tail, tail_desc = tail_latency(latencies) if latencies else (0.0, "no plain batches")
    cpu_s = feeder.cpu_s if latencies else []
    e2e = {
        "setup_s": setup_s,
        "events_per_s": timed_events / sum(latencies) if latencies else 0.0,
        "batch_latency_p50_s": _median(latencies),
        "batch_latency_tail_s": tail,
        "events_per_cpu_s": timed_events / sum(cpu_s) if cpu_s else 0.0,
        "batch_cpu_p50_s": _median(cpu_s),
    }
    e2e_units = {"setup_s": "s", "events_per_s": "events/s", "batch_latency_p50_s": "s",
                 "batch_latency_tail_s": "s", "events_per_cpu_s": "events/cpu-s",
                 "batch_cpu_p50_s": "cpu-s"}
    error_rate = failed / attempted
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "end_to_end": e2e, "error_rate": error_rate,
        "batch_latency_tail": tail_desc,
        "batch_latencies_s": latencies, "batch_cpu_s": feeder.cpu_s,
        "events_per_batch": gen.BATCH_EVENTS,
        "check": {**lab, "missing_reference_rows": missing, "metadata_mismatched_keys": meta_bad,
                  "raised_events": feeder.raised},
        "warm_up": {
            "messages": len(warm), "single_partition_reference_s": ref_s,
            "note": "every k-th message of the first timed batch, as one partition (cold)"},
    }
    values = e2e
    if args.trace:
        per_layer = {k: _median([m[k] for m in traced]) for k in traced[0]}
        for key in ("jobs", "stages", "tasks"):
            per_layer[f"runner.{key}_per_batch"] = _median([c[key] for c in counts])
        per_layer["runner.peak_rss_mb"] = peak_rss
        record.update(per_layer=per_layer, spans=tracer.spans, job_counts=counts,
                      tracing_overhead={
                          "traced_batch_latency_p50_s": per_layer["runner.batch_s"],
                          "untraced_batch_latency_p50_s": _untraced_p50(args.workload, args.seed)})
        values = per_layer
    units = declared_metrics("per_layer" if args.trace else "end_to_end")
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}

    records = WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    stamp = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S")
    rec_path = records / f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json"
    rec_path.write_text(json.dumps(record, indent=1, default=str))
    shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        for k, m in metrics.items():
            print(f"{k} {m['value']:.6g} {m['unit']}")
    else:  # every end-to-end metric, declared in BENCHMARK.json or not (README.md)
        for k, u in e2e_units.items():
            note = f" ({tail_desc})" if k == "batch_latency_tail_s" else ""
            print(f"{k} {e2e[k]:.6g} {u}{note}")
    print(f"error_rate {error_rate:.6g} ratio ({failed} of {attempted} events)")
    print(f"host load_1m={host['load_1m_at_start']:.2f} cores={cpus} steal={steal_s:.2f} cpu-s "
          f"({steal_share:.1%}){' FLAGGED' if host['steal_flagged'] else ''}")
    print(f"check counts={lab['counts']} expected={lab['expected']} "
          f"missing_reference_rows={missing} metadata_mismatched_keys={meta_bad} "
          f"record={rec_path.relative_to(ROOT)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def main(argv=None) -> int:
    return run(_parse(argv))


if __name__ == "__main__":
    sys.exit(main())
