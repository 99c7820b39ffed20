"""One benchmark iteration inside a fresh Python + JVM process.

    python3 studybench/child.py SPEC.json

SPEC names the ops (each a ``tmdataloader_spark.cli.main`` argv plus the
check.py checks to run after it), whether to trace, and where to write
the result.  The child builds the session first — with the Spark event
log on when tracing — so the ``getOrCreate`` inside ``cli.main`` returns
it; runs one trivial job (the end of set-up); then times each op.  It
writes, as JSON: the wall-clock time the session was ready; per op its
return code, start/end, the bytes of warehouse files it left newly
written, the warehouse's size and its observation_fact + omics-matrix
rows afterwards, and the failed checks; the peak RSS of this process
and of its driver JVM; and (traced) the spans.
"""

from __future__ import annotations

import json
import os
import sys
import time

import check


def _tree_files(root: str) -> dict[tuple, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            try:
                st = os.stat(os.path.join(d, f))
            except FileNotFoundError:
                continue
            out[(os.path.join(d, f), st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def main(spec_path: str) -> int:
    with open(spec_path) as fh:
        spec = json.load(fh)
    tracer = None
    conf = {}
    if spec["trace"]:
        import spans

        tracer = spans.Tracer()
        spans.install(tracer)
        os.makedirs(spec["event_dir"], exist_ok=True)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(spec["event_dir"]),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    from tmdataloader_spark import cli, session

    spark = session.get_spark("tm_etl", extra_conf=conf)
    spark.range(1).count()
    result = {"t_ready": time.time(), "ops": []}
    wh = spec["warehouse"]
    for op in spec["ops"]:
        before = _tree_files(wh)
        start = time.time()
        try:
            rc = cli.main(op["argv"])
        except Exception as e:  # noqa: BLE001 — an op failure is a result
            print(f"op {op['name']} raised: {e!r}", file=sys.stderr)
            rc = -1
        end = time.time()
        after = _tree_files(wh)
        errors = [f"{op['name']} returned {rc}"] if rc != 0 else []
        if not errors:
            for fn, kwargs in op["checks"]:
                errors += getattr(check, fn)(wh, **kwargs)
        result["ops"].append({
            "name": op["name"], "rc": rc, "start": start, "end": end,
            "new_bytes": sum(sz for k, sz in after.items() if k not in before),
            "stored_bytes": sum(after.values()),
            "rows": sum(check.row_counts(wh).values()) if rc == 0 else 0,
            "errors": errors,
        })
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    result["rss_kb"] = {"python": _vm_hwm_kb("self"), "jvm": _vm_hwm_kb(jvm_pid)}
    if tracer is not None:
        result["spans"] = tracer.spans
    spark.stop()  # flushes the event log
    with open(spec["result"], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
