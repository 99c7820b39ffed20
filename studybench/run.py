"""Study-load benchmark for the tm_etl command line (tmdataloader_spark.cli).

    python3 studybench/run.py --workload expression_study --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  Each iteration generates seeded study
files (gen.py) and runs the real ``cli.main`` ops in a fresh Python +
JVM process (child.py), which checks the warehouse after every op
against the generator's expectations (check.py).  Iterations repeat
until ``--seconds`` have passed (at least one).  The last line of
standard output is one JSON object: ``correct``, ``attempted`` and
``failed`` (ops; an op fails on a nonzero return code or a failed check)
and ``metrics`` — with ``--trace 0`` the end-to-end metrics (medians over
the iterations), with ``--trace 1`` the per-layer metrics of one traced
iteration (spans.py).

Workloads (README.md says why each exists):

- ``expression_study``: upload one study (a clinical file and an
  expression matrix) into an empty warehouse;
- ``warehouse_maintenance``: on a copy of the warehouse an
  ``expression_study`` iteration of seed 0 left (built once per checkout
  and program version), move the study to a path named by the seed.

Everything it writes stays under ``.studybench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
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
WORK = os.path.join(ROOT, ".studybench_work")
PACKAGE = os.path.join(ROOT, "tmdataloader_spark")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans  # noqa: E402

WORKLOADS = ["expression_study", "warehouse_maintenance"]
END_TO_END = [
    ("setup_s", "s"), ("load_s", "s"), ("rows_per_s", "1/s"),
    ("bytes_written_mb", "MB"), ("stored_bytes_per_input_byte", "ratio"),
    ("peak_rss_mb", "MB"),
]
PER_LAYER = (
    [(f"{n}.{m}", u) for n in spans.SPAN_NAMES for m, u in spans.SPAN_METRICS]
    + spans.GLOBAL_METRICS
    + [("move_s", "s"), ("op_failure_ratio", "ratio"), ("trace.overhead_s", "s")]
)
CHILD_TIMEOUT_S = 170
MB = 1024 * 1024
STUDY = gen.EXPRESSION_STUDY


def cores() -> int:
    return len(os.sched_getaffinity(0))


def child_env() -> dict[str, str]:
    """Pinned environment of every iteration: local[<cores>], Spark and
    JVM scratch space inside the work tree, a driver heap that fits this
    machine's memory (the engine's 16g default does not fit a 15 GiB
    box), and the serial collector: G1, the JVM default, grows the heap
    from pause-time feedback, which made the peak RSS of identical runs
    differ by up to 40 %."""
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(WORK, "tmp")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseSerialGC",
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(phys_gib // 4)))}g",
    })
    return env


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _end_group(pgid: int, timeout: float = 20.0) -> None:
    """Kill what is left of the child's process group (its JVM) and
    wait until no member remains."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    end = time.time() + timeout
    while time.time() < end and _group_alive(pgid):
        time.sleep(0.1)


def run_child(run_dir: str, ops: list[dict], warehouse: str, trace: bool) -> tuple[dict | None, float, str]:
    """Run ``ops`` in a fresh process; return (result, spawn time, log path)."""
    spec = {
        "ops": ops, "warehouse": warehouse, "trace": trace,
        "event_dir": os.path.join(run_dir, "events"),
        "result": os.path.join(run_dir, "result.json"),
    }
    spec_path = os.path.join(run_dir, "spec.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    log_path = os.path.join(run_dir, "child.log")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    t_spawn = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), spec_path],
            cwd=run_dir, env=child_env(), stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"child timed out after {CHILD_TIMEOUT_S}s", file=sys.stderr)
        finally:
            _end_group(proc.pid)
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(spec["result"]):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        return None, t_spawn, log_path
    with open(spec["result"]) as fh:
        return json.load(fh), t_spawn, log_path


def _source_key() -> str:
    """Hash of the program's sources and the generator: the base
    warehouse and the untraced history are dropped whenever either
    changes."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(PACKAGE)):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_base() -> str:
    """The maintenance workload's starting warehouse: what an
    ``expression_study`` iteration of seed 0 leaves, built by the code
    under test once per checkout and program version (set-up, not
    measured).  Its load_s starts that workload's untraced history."""
    base = os.path.join(WORK, f"base-{_source_key()}")
    if os.path.exists(os.path.join(base, "expect.json")):
        return base
    for stale in os.listdir(WORK):  # left by another program version
        if stale.startswith("base-"):
            shutil.rmtree(os.path.join(WORK, stale))
        elif stale.startswith("history-"):
            os.remove(os.path.join(WORK, stale))
    tmp = base + ".building"
    it = iteration("expression_study", 0, tmp, trace=False)
    if it["failed"]:
        sys.exit("building the base warehouse failed: " + "; ".join(it["errors"]))
    _save_history("expression_study", [it["metrics"]["load_s"]])
    with open(os.path.join(tmp, "expect.json"), "w") as fh:
        json.dump(it["expect"], fh)
    for junk in ("studies", "events"):
        shutil.rmtree(os.path.join(tmp, junk), ignore_errors=True)
    os.replace(tmp, base)
    return base


def workload_ops(workload: str, seed: int, run_dir: str, wh: str) -> tuple[list[dict], dict]:
    """The iteration's inputs: its ops (argv + checks) and the
    generator's expectation of the study."""
    if workload == "expression_study":
        studies = os.path.join(run_dir, "studies")
        exp = vars(gen.generate(studies, [STUDY], seed)[STUDY.study_id])
        return [{
            "name": "upload",
            "argv": [studies, "--warehouse", wh, "--parent-node", gen.PARENT_NODE],
            "checks": [["check_study", {"exp": exp}]],
        }], exp
    base = ensure_base()
    with open(os.path.join(base, "expect.json")) as fh:
        exp = json.load(fh)
    shutil.copytree(os.path.join(base, "wh"), wh)
    old = STUDY.top_node
    new = f"\\Bench Archive\\Run {seed}\\{STUDY.name}\\"
    sid = STUDY.study_id
    return [
        {"name": "move",
         "argv": ["--move-study", f"{old[:-1]};{new[:-1]}", "--warehouse", wh],
         "checks": [["check_moved", {"sid": sid, "old_node": old, "new_node": new}],
                    ["check_study", {"exp": exp, "top_node": new}]]},
    ], exp


def iteration(workload: str, seed: int, run_dir: str, trace: bool) -> dict:
    """One fresh-process run of the workload's ops and their checks."""
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    wh = os.path.join(run_dir, "wh")
    ops, exp = workload_ops(workload, seed, run_dir, wh)
    res, t_spawn, log_path = run_child(run_dir, ops, wh, trace)
    out = {"attempted": len(ops), "failed": len(ops), "errors": ["the run did not finish"],
           "res": res, "expect": exp, "log_path": log_path}
    if res is None:
        return out
    errors = [e for o in res["ops"] for e in o["errors"]]
    if errors:
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
    ops_t = {o["name"]: o["end"] - o["start"] for o in res["ops"]}
    load_s = sum(ops_t.values())
    out.update(
        errors=errors,
        failed=sum(1 for o in res["ops"] if o["errors"]),
        ops_t=ops_t,
        metrics={
            "setup_s": res["t_ready"] - t_spawn,
            "load_s": load_s,
            "rows_per_s": sum(o["rows"] for o in res["ops"]) / load_s,
            "bytes_written_mb": sum(o["new_bytes"] for o in res["ops"]) / MB,
            "stored_bytes_per_input_byte":
                max(o["stored_bytes"] for o in res["ops"]) / exp["input_bytes"],
            "peak_rss_mb": (res["rss_kb"]["python"] + res["rss_kb"]["jvm"]) / 1024.0,
        },
    )
    return out


def _history_path(workload: str) -> str:
    return os.path.join(WORK, f"history-{workload}.json")


def _load_history(workload: str) -> list[float]:
    try:
        with open(_history_path(workload)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return []


def _save_history(workload: str, values: list[float]) -> None:
    """Untraced load_s values of this checkout, the tracing-overhead base."""
    with open(_history_path(workload), "w") as fh:
        json.dump((_load_history(workload) + values)[-20:], fh)


def traced(workload: str, seed: int, run_dir: str) -> tuple[dict, list]:
    """One traced iteration's per-layer metrics.  The tracing overhead
    is its load_s minus the median untraced load_s of this workload in
    this checkout; an untraced iteration runs first when there is none."""
    its = []
    if not _load_history(workload):
        its.append(iteration(workload, seed, run_dir, trace=False))
        if its[-1]["failed"]:
            return {}, its
        _save_history(workload, [its[-1]["metrics"]["load_s"]])
    it = iteration(workload, seed, run_dir, trace=True)
    its.append(it)
    if it["failed"]:
        return {}, its
    events = os.path.join(run_dir, "events")
    log = spans.parse_event_log(os.path.join(events, os.listdir(events)[0]))
    # the upload reads the study files; the move reads none
    study_bytes = it["expect"]["input_bytes"] if workload == "expression_study" else 0
    m = spans.span_metrics(it["res"]["spans"], log, cores())
    m.update(spans.global_metrics(log, spans.count_codegen_fallbacks(it["log_path"]), study_bytes))
    m["move_s"] = it["ops_t"].get("move", 0.0)
    m["op_failure_ratio"] = it["failed"] / it["attempted"]
    m["trace.overhead_s"] = it["metrics"]["load_s"] - statistics.median(_load_history(workload))
    return m, its


def untraced(workload: str, seed: int, seconds: float, run_dir: str) -> tuple[dict, list]:
    """Medians of the end-to-end metrics over the iterations that fit
    in ``seconds`` (at least one); iteration i uses seed + 1000 i."""
    its, start = [], time.time()
    while not its or time.time() - start < seconds:
        its.append(iteration(workload, seed + 1000 * len(its), run_dir, trace=False))
        if its[-1]["failed"]:
            return {}, its
    _save_history(workload, [it["metrics"]["load_s"] for it in its])
    return {k: statistics.median(it["metrics"][k] for it in its) for k, _ in END_TO_END}, its


def main() -> int:
    ap = argparse.ArgumentParser(description="tm_etl study-load benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(PACKAGE, "cli.py")):
        print(f"no program to benchmark: {PACKAGE}/cli.py is missing", file=sys.stderr)
        return 2
    # a terminated run still ends its child process group (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(WORK, exist_ok=True)
    ensure_base()  # whatever the workload, the checkout's first run pays it
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        if args.trace:
            metrics, its = traced(args.workload, args.seed, run_dir)
            units = PER_LAYER
        else:
            metrics, its = untraced(args.workload, args.seed, args.seconds, run_dir)
            units = END_TO_END
    finally:
        for scratch in (run_dir, os.path.join(WORK, "tmp"), os.path.join(WORK, "spark-local")):
            shutil.rmtree(scratch, ignore_errors=True)
    for it in its:
        for e in it["errors"]:
            print(f"check failed: {e}", file=sys.stderr)
    env = child_env()
    print(json.dumps({"environment": {
        "master": f"local[{env['SPARK_GRAFT_CPUS']}]",
        "SPARK_LOCAL_DIRS": env["SPARK_LOCAL_DIRS"],
        "SPARK_GRAFT_DRIVER_MEM": env["SPARK_GRAFT_DRIVER_MEM"],
        "JAVA_TOOL_OPTIONS": env["JAVA_TOOL_OPTIONS"],
        "fresh_process_per_iteration": True,
        "iterations": len(its),
    }}))
    failed = sum(it["failed"] for it in its)
    correct = failed == 0 and bool(metrics)
    print(json.dumps({
        "correct": correct,
        "attempted": sum(it["attempted"] for it in its),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units} if correct else {},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
