"""End-to-end benchmark of the CDS CLI and the LLM data pipeline.

    python3 perfbench/run.py --workload cds_small_batches --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. One client drives the program in a
closed loop on a session built by ``session.get_spark`` with its
defaults, exactly as the CLI builds its own. Inputs are generated from
the seed before anything is timed and cached under ``.perfbench/`` in
the checkout, keyed by workload, seed and generator source. Every run
starts from empty output and history-state directories. All scratch
space (Spark local dirs, temp files) stays under ``.perfbench/``.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones, from a run in which every operation is traced. The line before it
describes the run: sample counts, per-operation walls and the ambient
noise (CPU steal share, load average, Spark slot-busy share). See
README.md in this directory for the metrics and why each workload
exists.
"""

import time

T_PROCESS = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="operations start until this much time has passed (at least one runs)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def confine_scratch() -> None:
    """Point every temp and Spark scratch directory into the checkout,
    before the JVM starts."""
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already counted in user
    return delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def reset_peak_rss(pid: int) -> None:
    """Restart the kernel's peak-RSS count (VmHWM) of ``pid``; where that
    is not permitted the count stays the process-lifetime peak."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds used by ``root`` and every live
    descendant (the JVM and its Python workers), including the children
    each has already reaped."""
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        pid = int(name)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, ticks in cpu.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += ticks
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cached_inputs(workload, seed: int) -> tuple[str, object, float]:
    """Generate the workload's inputs once per (workload, seed,
    generator source) and reuse them; returns (dir, truth, seconds
    spent generating)."""
    h = hashlib.sha256()
    for name in workload.sources + ("workloads.py",):
        with open(os.path.join(HERE, name), "rb") as f:
            h.update(f.read())
    d = os.path.join(WORK, "inputs", f"{workload.name}-{seed}-{h.hexdigest()[:12]}")
    done = os.path.join(d, "truth.json")
    t = time.perf_counter()
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        workload.generate(d, seed)  # writes truth.json last
    with open(done) as f:
        truth = json.load(f)
    return d, truth, time.perf_counter() - t


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def per_layer(tracer, ops: list[dict], run_dir: str, noise: dict) -> dict:
    """Per-layer metrics from a traced run's spans, as means per
    operation; setup spans, ``history.state_generations`` and the row
    counts are values of the run."""
    from llm import STAGES
    from spans import OP_SPAN, PIPELINE_OPERATORS, inclusive_total

    n = len(ops)

    def of(name):
        return [s for s in tracer.spans if s["name"] == name]

    def total(name):
        return sum(s["end"] - s["start"] for s in of(name))

    def dur(name):
        return total(name) / n

    def jobs(name):
        return sum(s["incl"]["jobs"] for s in of(name)) / n

    def attr(name, key):
        return sum(s["attrs"].get(key, 0) for s in of(name)) / n

    m = {
        "op.wall_s": ops[0]["wall_s"],
        "session.start_s": total("session.start"),
        "model.load_s": total("model.load"),
        "cli.main_s": dur("cli.main"),
        "pipeline.run_s": dur("pipeline.run"),
        "pipeline.run_jobs": jobs("pipeline.run"),
    }
    for op in PIPELINE_OPERATORS:
        m[f"operators.{op}_s"] = dur(f"operators.{op}")
    m["operators.id_validation_jobs"] = jobs("operators.id_validation")
    state = os.path.join(run_dir, "history_state")
    m.update({
        "sources.write_tsv_s": dur("sources.write_tsv"),
        "sources.write_tsv_jobs": jobs("sources.write_tsv"),
        "sources.files_written": attr("sources.write_tsv", "files"),
        "sources.bytes_written": attr("sources.write_tsv", "bytes"),
        "history.merge_s": dur("history.merge"),
        "history.stamp_s": dur("history.stamp"),
        "history.state_generations": sum(
            g.startswith("gen-") for g in (os.listdir(state) if os.path.isdir(state) else [])
        ),
        "llm_pipeline.build_s": dur("llm_pipeline.build"),
        "llm_pipeline.build_jobs": jobs("llm_pipeline.build"),
        "pin.filtered_s": dur("pin.filtered"),
        "pin.deduped_s": dur("pin.deduped"),
        "pin.clustered_s": dur("pin.clustered"),
        "components.connected_components_s": dur("components.connected_components"),
        "llm_pipeline.manifest_write_s": dur("llm_pipeline.manifest_write"),
    })
    rows = ops[0]["info"].get("stage_rows", {})
    for prev, stage in zip((None,) + STAGES, STAGES + ("manifest",)):
        m[f"llm_pipeline.rows.{stage}"] = rows.get(stage, 0)
        if prev is not None and stage != "manifest":
            m[f"llm_pipeline.survivor_share.{stage}"] = (
                rows.get(stage, 0) / rows[prev] if rows.get(prev) else 0.0
            )
    totals = inclusive_total(of(OP_SPAN))
    wall_s = sum(o["wall_s"] for o in ops)
    m.update(spark_metrics(totals, n, wall_s, tracer.sc.defaultParallelism))
    m["trace.overhead_s"] = tracer.overhead_s / n
    m["noise.cpu_steal_share"] = noise["cpu_steal_share"]
    m["noise.loadavg_1m"] = noise["loadavg_1m"]
    return m


def spark_metrics(tot: dict, n: int, wall_s: float, cores: int) -> dict:
    """Spark status-store totals of a run's operations, per operation;
    skew and slot-busy share are ratios over the whole run."""
    out = {f"spark.{k}": tot[k] / n for k in (
        "jobs", "stages", "tasks", "task_time_s", "gc_s", "shuffle_write_mb", "spill_mb")}
    out["spark.skew_max_over_median"] = (
        tot["skew_weighted_s"] / tot["skew_weight_s"] if tot["skew_weight_s"] else 0.0
    )
    out["spark.slot_busy_share"] = tot["task_time_s"] / (wall_s * cores) if wall_s else 0.0
    return out


def load_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open("/proc/loadavg") as f:
        loadavg = float(f.read().split()[0])
    cpu_start = cpu_times()
    try:
        from cds_etl_spark import session
    except ImportError as e:
        print(f"cannot import the program: {e}", file=sys.stderr)
        return 2
    confine_scratch()

    workload = WORKLOADS[args.workload]()
    inputs, truth, gen_s = cached_inputs(workload, args.seed)

    t = time.perf_counter()
    spark = session.get_spark("cds_etl_spark_cli")
    t_session = time.perf_counter()
    workload.load(inputs)
    t_ready = time.perf_counter()
    setup_s = t_ready - T_PROCESS - gen_s

    run_dir = os.path.join(WORK, "runs", f"{workload.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    n_ops = workload.start(spark, inputs, truth, run_dir)

    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer(spark)
        tracer.record("session.start", t, t_session)
        tracer.record("model.load", t_session, t_ready)
        spans.install(tracer)
        workload.span = tracer.span

    pids = (os.getpid(), spark.sparkContext._gateway.proc.pid)
    for pid in pids:
        reset_peak_rss(pid)
    ops = []
    t_start = time.perf_counter()
    deadline = t_start + args.seconds
    k = 0
    while k < n_ops and (k == 0 or time.perf_counter() < deadline):
        label = workload.op_label(k)
        jobs_before = len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
        cpu_before = tree_cpu_s(os.getpid())
        t_op = time.perf_counter()
        rec = None
        try:
            if tracer is not None:
                tracer.batch = label
                with tracer.span("op") as rec:
                    workload.run(k)
            else:
                workload.run(k)
            wall = time.perf_counter() - t_op
            cpu = tree_cpu_s(os.getpid()) - cpu_before
            errors, info = workload.check(k)
        except Exception:
            wall = time.perf_counter() - t_op
            cpu = tree_cpu_s(os.getpid()) - cpu_before
            traceback.print_exc()
            errors, info = ["operation raised"], {}
        # Traced jobs carry their span's group; untraced ones none.
        jobs = rec["incl"]["jobs"] if rec else (
            len(spark.sparkContext.statusTracker().getJobIdsForGroup(None)) - jobs_before)
        ops.append({"op": label, "wall_s": wall, "cpu_s": cpu, "spark_jobs": jobs,
                    "errors": errors[:10], "info": info})
        k += 1
    wall_s = time.perf_counter() - t_start
    peak_rss = sum(peak_rss_mb(pid) for pid in pids)
    noise = {"cpu_steal_share": steal_share(cpu_start, cpu_times()), "loadavg_1m": loadavg}
    failed = sum(1 for o in ops if o["errors"])

    if tracer is not None:
        values = per_layer(tracer, ops, run_dir, noise)
        values["process.peak_rss_mb"] = peak_rss
        noise["spark_slot_busy_share"] = values["spark.slot_busy_share"]
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        with open(os.path.join(WORK, "traces", f"{workload.name}-{args.seed}-{os.getpid()}.json"), "w") as f:
            json.dump({"workload": workload.name, "seed": args.seed, "spans": tracer.spans}, f)
    else:
        values = {
            "setup_s": setup_s,
            "op_wall_s": ops[0]["wall_s"],
            "op_cpu_s": ops[0]["cpu_s"],
        }
        import spans

        sc = spark.sparkContext
        totals = spans.stage_totals(sc, sc.statusTracker().getJobIdsForGroup(None))
        noise["spark_slot_busy_share"] = totals["task_time_s"] / (wall_s * sc.defaultParallelism)
    print(json.dumps({
        "workload": workload.name, "seed": args.seed, "trace": args.trace,
        "generate_s": gen_s, "setup_s": setup_s, "timed_wall_s": wall_s,
        "op_wall_s": ops[0]["wall_s"], "peak_rss_mb": peak_rss,
        "samples": {"setup_s": 1, "op_wall_s": 1, "op_cpu_s": 1, "ops": len(ops)},
        "ops": ops, "noise": noise,
    }))
    stop_spark(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(os.environ["TMPDIR"], ignore_errors=True)
    units = load_units()
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
