"""Summarize the runs kept under ``.perfbench-out/``.

    python3 perfbench/report.py

For each workload and end-to-end metric: the run count, the median and
the quartile spread (third minus first quartile over the median) of
the untraced runs; then the traced runs' values of the same metrics
and the tracing overhead (traced minus untraced median, as a share of
the untraced median), and the share of the wall the traced layers
account for.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

OUT = Path(__file__).resolve().parent.parent / ".perfbench-out"


def spread(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main() -> int:
    runs: dict[tuple[str, int], list[dict]] = {}
    for path in sorted(OUT.glob("*/result.json")):
        workload, _, traced, _ = path.parent.name.rsplit("-", 3)
        runs.setdefault((workload, int(traced[-1])), []).append(json.loads(path.read_text()))
    if not runs:
        print(f"no runs under {OUT}", file=sys.stderr)
        return 1
    for workload in sorted({w for w, _ in runs}):
        plain, traced = runs.get((workload, 0), []), runs.get((workload, 1), [])
        bad = sum(not r["correct"] for r in plain + traced)
        print(f"{workload}: {len(plain)} untraced, {len(traced)} traced, {bad} incorrect")
        for name in (plain or traced)[0]["end_to_end"]:
            xs = [r["end_to_end"][name] for r in plain]
            ts = [r["end_to_end"][name] for r in traced]
            line = f"  {name:24s}"
            if xs:
                line += f" median {statistics.median(xs):12.5g}  spread {spread(xs):.3f}"
            if ts:
                line += f"  traced {statistics.median(ts):12.5g}"
                if xs and name != "setup_s":
                    base = statistics.median(xs)
                    line += f"  overhead {(statistics.median(ts) - base) / base:+.3f}"
            print(line)
        for r in traced:
            share = r["metrics"]["trace.accounted_share"]["value"]
            print(f"  traced layers account for {share:.3f} of the wall")
    return 0


if __name__ == "__main__":
    sys.exit(main())
