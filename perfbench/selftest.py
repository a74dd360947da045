#!/usr/bin/env python3
"""Self-checks of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/selftest.py

1. The timed action materializes every output column: the executed plan of
   the noop write that times `core_median_prices` keeps its `percentile`
   aggregate. (`count()`, which the engine's older bench timed, lets
   Catalyst prune it; that plan is printed for contrast.)
2. The per-layer arithmetic: interval coverage and self time.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import layers  # noqa: E402
import run  # noqa: E402


def check_layers():
    assert layers.covered((0, 10), [(2, 4), (3, 6), (8, 12)]) == 6
    assert layers.covered((0, 10), []) == 0
    assert layers.covered((5, 10), [(0, 20)]) == 5


def check_noop_plan():
    cp = run.build()
    tier, _ = run.prepare_data(1, "sf")
    out = os.path.join(run.WORK, "selftest")
    _, rec = run.harness(cp, "plan", tier, ["lineitem"], out, "core_median_prices")
    plans = rec["texts"]
    timed = [p for k, p in plans.items() if not k.endswith(":count")]
    counted = [p for k, p in plans.items() if k.endswith(":count")]
    assert any("percentile" in p for p in timed), \
        "noop write lost the percentile aggregate:\n" + "\n".join(timed)
    kept = any("percentile" in p for p in counted)
    print(f"count() plan {'keeps' if kept else 'prunes'} the percentile aggregate")


if __name__ == "__main__":
    check_layers()
    check_noop_plan()
    print("perfbench self-checks passed")
