"""spark-extract benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload extract_web --seed 1 --seconds 10 --trace 0

Run from the repository root. Every run starts a fresh Spark process
(local[nproc]) for the measurement and samples that process tree's peak
resident memory from /proc. Inputs and goldens are generated once per
checkout and never counted in any metric. Prints a summary line, then the
result as the last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 reports the
per-layer metrics of a traced run, whose process is launched with the
Spark event log on. Per-layer detail, spans and the host stamp go to a
sidecar file under .perfbench_work/results/.
See perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# workload: (input blocks of 1,000 pages, how many of them the untimed
# first call commits, so that every timed call resumes over them)
WORKLOADS = {"extract_web": (2, 0), "extract_resume": (2, 1)}
# timed calls at least in an untraced run, which reports their median
MIN_CALLS = 3
# pages of the first block that a traced run's run_corpus_prep reads: the
# job's cost is mostly per stage, and a traced run must end within 180 s
CORPUS_ROWS = 200
RUN_TIMEOUT_S = 170


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_stamp() -> dict:
    import pyarrow
    import pyspark

    from pdf_extract_spark.fixtures.pages import FIXTURE_VERSION
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f
                          if ln.startswith("MemTotal")).split()[1])
    return {"nproc": nproc(), "fixture_version": FIXTURE_VERSION,
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "mem_total_mb": mem_kb // 1024}


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _proc_stat(pid: str) -> tuple[str, int] | None:
    """(comm, ppid) of a live process, None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    end = s.rindex(")")
    return s[s.index("(") + 1:end], int(s[end + 2:].split()[1])


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for ln in f:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1])
    except OSError:
        pass
    return 0


def _procs() -> dict[int, tuple[str, int]]:
    """comm and ppid of every live process."""
    out = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _proc_stat(pid)
            if st is not None:
                out[int(pid)] = st
    return out


def descendants(root_pid: int) -> dict[int, str]:
    """comm of every live process below root_pid. The pyspark daemon
    leads its own process group, so the tree is walked by parent pid."""
    procs = _procs()
    below, frontier = {}, {root_pid}
    while frontier:
        frontier = {p for p, (_, ppid) in procs.items()
                    if ppid in frontier and p not in below}
        below.update((p, procs[p][0]) for p in frontier)
    return below


def stop_all(pids: dict[int, str]) -> None:
    """Stop every process still alive among pids (matched by comm, so a
    reused pid is left alone) and wait until all are gone."""
    deadline = time.monotonic() + 10
    while True:
        alive = [p for p, comm in pids.items()
                 if (_proc_stat(str(p)) or ("",))[0] == comm]
        if not alive:
            return
        sig = signal.SIGKILL if time.monotonic() > deadline else signal.SIGTERM
        for p in alive:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def run_worker(spec: dict, run_dir: str,
               deadline: float) -> tuple[dict, float]:
    """One fresh Spark process; returns its result and peak RSS in MB."""
    os.makedirs(run_dir, exist_ok=True)
    spec_path = os.path.join(run_dir, "spec.json")
    result_path = os.path.join(run_dir, "result.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = []
    if spec["trace"]:
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf",
                   f"spark.eventLog.dir=file://{spec['event_log_dir']}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(
                   filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
               SPARK_GRAFT_CPUS=str(nproc()),
               SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
               SPARK_GRAFT_WAREHOUSE=os.path.join(WORK, "warehouse"),
               TMPDIR=tmp,
               # also the launcher JVM that spark-submit starts first
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
               PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]))
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", spec_path, result_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        peak, at_peak, seen = 0.0, [], {}
        try:
            while proc.poll() is None:
                if time.monotonic() > deadline:
                    raise TimeoutError("run exceeded its time limit")
                below = descendants(proc.pid)
                seen.update(below)
                # VmHWM of the JVM and its Python workers
                hwm = [(comm, _hwm_kb(p) / 1024) for p, comm in below.items()
                       if comm == "java" or comm.startswith("python")]
                total = sum(mb for _, mb in hwm)
                if total > peak:
                    peak, at_peak = total, hwm
                time.sleep(0.2)
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            stop_all(seen)
    if proc.returncode != 0:
        with open(os.path.join(run_dir, "worker.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"worker exited with {proc.returncode}")
    with open(result_path) as f:
        result = json.load(f)
    result["rss_at_peak_mb"] = sorted(at_peak)
    return result, peak


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a stopped run still stops the processes it started (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    if not os.path.isdir(os.path.join(ROOT, "pdf_extract_spark")):
        sys.stderr.write(f"no pdf_extract_spark package under {ROOT}; run "
                         "the benchmark from a checkout of the repository\n")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs, queries

    host = host_stamp()
    cdir = inputs.cache_dir(WORK, ROOT)
    n_blocks, n_base = WORKLOADS[args.workload]
    ids = inputs.block_ids(args.seed, n_blocks)
    inputs.ensure_blocks(cdir, ids, procs=host["nproc"])
    pages = [inputs.pages_path(cdir, b) for b in ids]
    n_docs = inputs.BLOCK * len(ids)
    payload = inputs.payload_bytes(pages)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", tag)
    spec = {"workload": args.workload, "trace": args.trace,
            "run_id": tag, "seconds": args.seconds,
            "pages": pages, "base_pages": pages[:n_base],
            "corpus_pages": inputs.corpus_slice(cdir, ids[0], CORPUS_ROWS),
            "goldens": [inputs.golden_path(cdir, b) for b in ids],
            "out_root": os.path.join(run_dir, "out"), "nproc": host["nproc"]}
    if args.trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        spec.update(event_log_dir=log_dir, queries_dir=queries.prepare(WORK))
    else:
        spec["min_calls"] = MIN_CALLS
    # input and query preparation only happen on a checkout's first runs
    deadline = time.monotonic() + RUN_TIMEOUT_S
    load = {"before": loadavg()}
    try:
        res, peak = run_worker(spec, os.path.join(run_dir, "worker"),
                               deadline)
    finally:
        load["after"] = loadavg()
    shutil.rmtree(run_dir, ignore_errors=True)

    wall = statistics.median(res["walls"])
    e2e = {
        "setup_s": res["setup_s"],
        "wall_s": wall,
        "docs_per_s": n_docs / wall,
        "out_bytes_ratio": statistics.median(res["out_bytes"]) / payload,
        "peak_rss_mb": peak,
    }
    # peak_rss_mb is in the summary only: it varies too much between seeds
    # for a bound (see README.md)
    values = dict(res["layers"]) if args.trace else {
        k: v for k, v in e2e.items() if k != "peak_rss_mb"}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    # exactly the declared metrics, in their declared units
    metrics = {m["name"]: {"value": values.pop(m["name"]), "unit": m["unit"]}
               for m in declared}
    if values:
        raise RuntimeError(
            f"metrics missing from BENCHMARK.json: {sorted(values)}")

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    sidecar = os.path.join(WORK, "results", tag + ".json")
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "docs": n_docs, "calls": len(res["walls"]),
        "failed_ratio": res["failed"] / res["attempted"],
        "host": dict(host, loadavg=load),
        **{k: round(v, 4) for k, v in e2e.items()},
        "seconds": args.seconds,
        "sidecar": os.path.relpath(sidecar, ROOT),
    }
    with open(sidecar, "w") as f:
        json.dump({"summary": summary, "metrics": metrics, "worker": res,
                   "input": {"blocks": ids, "payload_bytes": payload}}, f)
    print(json.dumps(summary))
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
