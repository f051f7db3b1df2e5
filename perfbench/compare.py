"""Compare benchmark records written by ``run.py``.

    python3 perfbench/compare.py BASE.json [...] -- NEW.json [...]

Prints, per workload and metric, the median over each side and NEW/BASE.
Both sides must come from hosts with the same usable cores and the same
MemTotal: a run on another core count moves queries unevenly, so such a
comparison is refused with exit code 2.

Pass untraced records as BASE and traced ones as NEW to read the tracing
overhead on the end-to-end metrics.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def medians(records: list[dict]) -> dict[tuple[str, str], float]:
    values = defaultdict(list)
    for r in records:
        for section in ("end_to_end", "per_layer"):
            for k, v in r.get(section, {}).items():
                values[(r["host"]["workload"], k)].append(v)
    return {k: statistics.median(v) for k, v in values.items()}


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    i = argv.index("--")
    base, new = load(argv[:i]), load(argv[i + 1:])
    hosts = {(r["host"]["cores"], r["host"]["mem_total_kb"]) for r in base + new}
    if len(hosts) != 1:
        print(f"refusing to compare runs from different hosts (cores, MemTotal kB): "
              f"{sorted(hosts)}", file=sys.stderr)
        return 2
    mb, mn = medians(base), medians(new)
    for key in sorted(mb.keys() & mn.keys()):
        ratio = mn[key] / mb[key] if mb[key] else float("nan")
        print(f"{key[0]:16} {key[1]:34} {mb[key]:14.4f} {mn[key]:14.4f} {ratio:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
