"""Line-coverage probe for driver-side package modules (no
``coverage`` wheel in this container — stdlib ``sys.settrace`` only).

Method (introduced round 10 for codec.py, recorded in BASELINE.md;
generalized here per VERDICT r10 ask #5): the denominator for a module
is the union of ``co_lines()`` over its compiled code object and every
nested code const (functions, comprehensions, lambdas, class bodies);
the numerator is the set of line events a ``sys.settrace`` /
``threading.settrace`` tracer observes for that filename while an
in-process ``pytest.main`` run executes. Only DRIVER-side execution is
visible — code shipped to Spark Python workers runs in subprocesses
the tracer cannot see — so for any module with executor-side UDF
bodies the number is a lower bound. The three operator modules this
was built for (operators/dedup.py, operators/similarity.py,
streaming/history.py) contain zero UDF bodies: everything they do is
DataFrame composition plus foreachBatch callbacks, both of which run
on the driver, so their numbers are exact for the traced test set.

Usage:
    python scripts/coverage_probe.py MODULE[,MODULE...] -- PYTEST_ARGS...
e.g.
    python scripts/coverage_probe.py \
        datafusion_functions_variant_spark/operators/dedup.py \
        -- tests/test_operator_properties.py -q

Prints one JSON line per module: {"module":..., "covered":N,
"total":M, "pct":P, "missing":[lines...]}.
"""

from __future__ import annotations

import json
import os
import sys
import threading

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def executable_lines(path: str) -> set[int]:
    """Union of co_lines() over the module's compiled code tree."""
    with open(path) as fh:
        src = fh.read()
    root = compile(src, path, "exec")
    lines: set[int] = set()
    stack = [root]
    while stack:
        code = stack.pop()
        lines.update(ln for _, _, ln in code.co_lines() if ln is not None)
        stack.extend(c for c in code.co_consts if hasattr(c, "co_lines"))
    return lines


def main() -> int:
    argv = sys.argv[1:]
    if "--" in argv:
        split = argv.index("--")
        targets, pytest_args = argv[:split], argv[split + 1 :]
    else:
        targets, pytest_args = argv, ["tests/", "-q"]
    targets = [t for arg in targets for t in arg.split(",") if t]
    if not targets:
        print("usage: scripts/coverage_probe.py MODULE... -- PYTEST_ARGS...")
        return 2

    paths = {os.path.abspath(t) for t in targets}
    hits: dict[str, set[int]] = {p: set() for p in paths}

    def tracer(frame, event, arg):
        fn = frame.f_code.co_filename
        if fn in hits:
            if event == "line":
                hits[fn].add(frame.f_lineno)
            return tracer
        # Returning None here would silence the whole subtree, missing
        # target-module calls made from non-target frames below this
        # one — keep tracing call events everywhere, line events only
        # inside targets.
        return tracer if event == "call" else None

    threading.settrace(tracer)
    sys.settrace(tracer)
    try:
        import pytest

        rc = pytest.main(pytest_args)
    finally:
        sys.settrace(None)
        threading.settrace(None)

    for p in sorted(paths):
        total = executable_lines(p)
        covered = hits[p] & total
        missing = sorted(total - covered)
        print(
            json.dumps(
                {
                    "module": os.path.relpath(p, REPO),
                    "covered": len(covered),
                    "total": len(total),
                    "pct": round(100.0 * len(covered) / max(1, len(total)), 1),
                    "missing": missing,
                    "pytest_rc": int(rc),
                }
            )
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
