"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload er_full --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed``, starts each Spark application as a ``worker.py`` subprocess
(``local[nproc]``, driver memory below physical RAM, scratch and shuffle
directories inside the checkout), samples the process tree's RSS from
``/proc`` while it runs, checks every output, and prints the metrics
``BENCHMARK.json`` declares: the end-to-end ones with ``--trace 0``, all
the per-layer ones (from one traced iteration) with ``--trace 1``. The last
stdout line is ``{"correct", "attempted", "failed", "metrics"}``; the full
record (pins, samples, spans) goes to ``.perfbench_out/``. See README.md.

``--scale small`` runs both ER workloads on the ``small`` corpus and
``--selftest`` also runs every output check on a perturbed output, which
must fail; ``selftest.py`` uses both.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

#: hard cap on one invocation, all workers included (the limit is 180 s)
DEADLINE_S = 170

WORKLOADS = ("er_full", "headline_queries")
#: worker phases whose RSS counts towards ``peak_rss_mb``
MEASURED_PHASES = ("setup", "run")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat, read the way bench.py does."""
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    return (vals[7] if len(vals) > 7 else 0, sum(vals))


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _pins(work: str) -> tuple[dict, dict]:
    """The pinned run environment: (worker env, record of it)."""
    cores = len(os.sched_getaffinity(0))
    driver_mb = min(2048, _mem_total_mb() // 3)
    dirs = {k: os.path.join(work, k) for k in ("spark-local", "tmp")}
    for p in dirs.values():
        os.makedirs(p, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT, HERE] + [p for p in [env.get("PYTHONPATH")] if p]),
        PYSPARK_PYTHON=sys.executable,
        SPARK_DRIVER_MEMORY=f"{driver_mb}m",
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        TMPDIR=dirs["tmp"],
        SPARK_GRAFT_CPUS=str(cores),
    )
    record = {
        "master": f"local[{cores}]",
        "cores": cores,
        "mem_total_mb": _mem_total_mb(),
        "spark_driver_memory": env["SPARK_DRIVER_MEMORY"],
        "spark_local_dirs": os.path.relpath(dirs["spark-local"], ROOT),
        "tmpdir": os.path.relpath(dirs["tmp"], ROOT),
        "pythonpath": [os.path.relpath(p, ROOT) for p in (ROOT, HERE)],
        "python": sys.version.split()[0],
    }
    return env, record


# -- process tree sampling -------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_mb(pids: list[int]) -> dict[str, float]:
    """Resident memory of ``pids`` per command name, in MB. Proportional set
    size, so the pages that forked Python UDF workers share with their
    daemon count once, not once per worker."""
    out: dict[str, float] = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{p}/smaps_rollup") as f:
                kb = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        out[comm] = out.get(comm, 0.0) + kb / 1024.0
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _read_phase(path: str, last: str) -> str:
    try:
        with open(path) as f:
            return f.read().strip() or last
    except OSError:
        return last


def spawn_worker(spec: dict, env: dict, work: str, deadline: float) -> dict:
    """Run one worker to completion (killed at monotonic ``deadline``);
    returns its result plus the peak resident memory of its process tree
    per phase (with its split by command) and ``peak_rss_mb`` over the
    measured phases. Waits until every process the worker started has
    ended."""
    tag = time.time_ns()
    spec = dict(spec, out=os.path.join(work, f"result-{tag}.json"),
                phase_file=os.path.join(work, f"phase-{tag}"))
    log = open(os.path.join(work, "worker.log"), "a")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(spec)],
        env=env, cwd=work, stdout=log, stderr=subprocess.STDOUT,
        start_new_session=True,
    )
    seen: set[int] = set()
    peaks: dict[str, dict] = {}
    phase = "setup"
    while proc.poll() is None:
        if time.monotonic() > deadline:
            os.killpg(proc.pid, signal.SIGKILL)
            break
        phase = _read_phase(spec["phase_file"], phase)
        pids = _tree(proc.pid)
        seen.update(pids)
        mem = _pss_mb(pids)
        if sum(mem.values()) > peaks.get(phase, {}).get("total", 0.0):
            peaks[phase] = dict(mem, total=sum(mem.values()))
        time.sleep(0.1)
    proc.wait()
    # the JVM and the Python UDF workers outlive the worker by a moment
    end = time.monotonic() + 30
    while any(_alive(p) for p in seen) and time.monotonic() < end:
        time.sleep(0.1)
    for p in seen:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    log.close()
    try:
        with open(spec["out"]) as f:
            result = json.load(f)
    except (OSError, ValueError):
        result = {"error": f"worker exited {proc.returncode} without a result; see worker.log"}
    result["rss_mb_by_phase"] = peaks
    result["peak_rss_mb"] = max(peaks.get(p, {}).get("total", 0.0) for p in MEASURED_PHASES)
    return result


# -- workloads -----------------------------------------------------------------


def _inputs(args, work: str) -> tuple[dict, dict | None]:
    """The workload's inputs and, for a traced run, its companion's: the
    layers the workload does not enter, traced once after its own traced
    iteration so that every traced run reports every per-layer metric (see
    worker.py)."""
    import tables

    def er(d: str, scale: str) -> dict:
        return {"inputs": d, "facts": tables.write_er_inputs(d, args.seed, scale)}

    def headline(d: str) -> dict:
        return {"inputs": d, "facts": tables.write_headline_inputs(d, args.seed)}

    own, comp = os.path.join(work, "inputs"), os.path.join(work, "companion")
    if args.workload == "headline_queries":
        return headline(own), (er(comp, "small") if args.trace else None)
    return er(own, args.scale or tables.ER_SCALE), (headline(comp) if args.trace else None)


def run_workload(args, env: dict, work: str, deadline: float) -> list[dict]:
    inputs, companion = _inputs(args, work)
    spec = dict(
        inputs,
        workload=args.workload,
        cores=int(env["SPARK_GRAFT_CPUS"]),
        seconds=args.seconds,
        trace=bool(args.trace),
        selftest=args.selftest,
    )
    if args.workload != "er_full":
        return [spawn_worker(dict(spec, workdir=work, companion=companion), env, work, deadline)]
    # er_full: every iteration is a cold run in a fresh Spark application
    if args.trace:
        return [_cold(spec, False, env, work, 0, deadline),
                _cold(dict(spec, companion=companion), True, env, work, 1, deadline)]
    results, t0 = [], time.monotonic()
    while not results or time.monotonic() - t0 < args.seconds:
        results.append(_cold(spec, False, env, work, len(results), deadline))
    return results


def _cold(spec: dict, traced: bool, env: dict, work: str, i: int, deadline: float) -> dict:
    wd = os.path.join(work, f"cold{i}")
    os.makedirs(wd)
    out = spawn_worker(dict(spec, trace=traced, workdir=wd), env, wd, deadline)
    shutil.rmtree(wd, ignore_errors=True)
    return out


# -- metrics -------------------------------------------------------------------


def summarize(results: list[dict], trace: bool) -> tuple[dict, int, int, list[str]]:
    """Worker results -> (metric values, attempted, failed, errors)."""
    errors = [r["error"] for r in results if "error" in r]
    ok = [r for r in results if "error" not in r]
    samples = [s for r in ok for s in r["samples"]]
    attempted = sum(s["attempted"] for s in samples) + len(errors)
    failed = sum(s["failed"] for s in samples) + len(errors)
    errors += [e for s in samples for e in s["errors"]]
    if not samples:
        return {}, attempted, failed, errors
    plain = [s for s in samples if not s["traced"]]
    run_s = statistics.median(s["run_s"] for s in plain)
    m = {
        "run_s": run_s,
        "files_per_s": statistics.median(s["files"] / s["run_s"] for s in plain),
        "setup_s": statistics.median(r["setup_s"] for r in ok),
        "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in ok),
        "pair_f1": statistics.median(s["pair_f1"] for s in samples),
        "ok_frac": 1.0 - failed / attempted,
        "session.start_s": statistics.median(r["start_s"] for r in ok),
    }
    traced = [s for s in samples if s["traced"]]
    if trace and traced:
        m |= traced[0]["layers"]
        m["trace.overhead_s"] = traced[0]["run_s"] - run_s
    return m, attempted, failed, errors


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["small"], help="ER corpus scale override")
    ap.add_argument("--selftest", action="store_true",
                    help="also check perturbed outputs; report how many checks fail")
    args = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            declared = json.load(f)
    except OSError:
        print("perfbench: no BENCHMARK.json at the checkout root", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "wiki_entity_linker_spark")):
        print("perfbench: the wiki_entity_linker_spark package is missing", file=sys.stderr)
        return 2

    deadline = time.monotonic() + DEADLINE_S
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        env, pins = _pins(work)
        ticks0, load0, t0 = _cpu_ticks(), os.getloadavg()[0], time.monotonic()
        results = run_workload(args, env, work, deadline)
        ticks1 = _cpu_ticks()
        pins |= {
            "steal_pct": 100.0 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
            "loadavg_start": load0,
            "loadavg_end": os.getloadavg()[0],
            "wall_s": time.monotonic() - t0,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values, attempted, failed, errors = summarize(results, bool(args.trace))
    wanted = declared["per_layer" if args.trace else "end_to_end"]
    metrics = {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
        for m in wanted if m["name"] in values
    }
    missing = [m["name"] for m in wanted if m["name"] not in values]
    for name, v in metrics.items():
        print(f"{args.workload}  {name:<42} {v['value']:>14.6g} {v['unit']}")
    if not args.trace and attempted:
        print(f"{args.workload}  {'failed_frac':<42} {failed / attempted:>14.6g} ratio")
    print("env  " + json.dumps(pins, sort_keys=True))
    if args.selftest:
        broken = [r.get("perturbed_errors", []) for r in results]
        print(f"selftest  perturbed outputs failed {sum(map(len, broken))} checks: {broken}")
    for e in errors:
        print(f"FAILED  {e}", file=sys.stderr)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    record = {"args": vars(args), "env": pins, "metrics": values, "errors": errors,
              "results": results}
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    with open(os.path.join(out_dir, name + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    if not values:
        print("perfbench: no iteration completed", file=sys.stderr)
        return 1
    if missing:
        print(f"perfbench: the run produced no {', '.join(missing)}", file=sys.stderr)
        return 1
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
