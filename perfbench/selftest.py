"""Self-test of the core benchmark, at the tiny input scale.

Checks that a run of every workload emits exactly the metrics
BENCHMARK.json names (end-to-end untraced, per-layer traced) with correct
outputs, and that the correctness check catches a perturbed output. Run from
the root of a chronon_spark checkout (takes a few minutes):

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main() -> int:
    sys.path.insert(0, run.ROOT)
    os.environ["PYTHONPATH"] = run.ROOT
    import inputs
    import workloads
    from tracing import Tracer

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {False: {m["name"] for m in spec["end_to_end"]},
            True: {m["name"] for m in spec["per_layer"]}}
    work = os.path.join(run.ROOT, ".perfbench", f"selftest-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    problems = []
    try:
        for name in run.WORKLOADS:
            for trace in (False, True):
                res = run.run(name, 7, 0.1, trace, f"{work}/{name}-{trace}", inputs.TINY)
                got = set(res["metrics"])
                if got != want[trace] or not res["correct"]:
                    problems.append(f"{name} trace={trace}: correct={res['correct']} "
                                    f"missing={sorted(want[trace] - got)} "
                                    f"extra={sorted(got - want[trace])}")
        spark = run.start_session(work)
        off = Tracer(spark, "selftest", enabled=False)
        for name in run.WORKLOADS:
            prep = workloads.prepare(name, spark, f"{work}/p-{name}", 7, inputs.TINY, off)
            out = workloads.output_frame(spark, workloads.run_op(spark, prep, off))
            if workloads.check(spark, prep, [out], 7):
                problems.append(f"{name}: unperturbed output flagged")
            # the history-less key must read COUNT 0; claim one event instead
            if name == "serving_lambda":
                out.loc[out["domain"] == inputs.FRESH_DOMAIN, "entity_budget_count"] = 1
            else:
                out.loc[out["url"] == inputs.FRESH_URL, "url_text_len_count"] = 1
            if not workloads.check(spark, prep, [out], 7):
                problems.append(f"{name}: perturbed output not caught")
    finally:
        run.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
