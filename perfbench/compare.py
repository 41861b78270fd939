"""Compare two benchmark records metric by metric.

    python3 perfbench/compare.py BASE.json NEW.json

Records are the full JSON objects ``run.py`` writes under
``.perfbench/records/`` (and prints on the line before its result). Records
from hosts with different CPU counts, or from different workloads, are not
compared: the command exits with code 2.
"""

from __future__ import annotations

import json
import sys


def compare(base: dict, new: dict) -> list[tuple[str, float, float, float]]:
    """``(metric, base, new, new/base)`` for every metric both records hold;
    raises ValueError when the records are not comparable."""
    if base["host"]["cpus"] != new["host"]["cpus"]:
        raise ValueError(
            f"cpus differ: {base['host']['cpus']} vs {new['host']['cpus']}"
        )
    if base["workload"] != new["workload"]:
        raise ValueError(f"workloads differ: {base['workload']} vs {new['workload']}")
    rows = []
    for section in ("metrics", "layers"):
        for name, b in base[section].items():
            n = new[section].get(name)
            if n is None:
                continue
            rows.append((name, b, n, n / b if b else float("nan")))
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = (json.load(open(p)) for p in argv)
    try:
        rows = compare(base, new)
    except ValueError as e:
        print(f"not comparable: {e}", file=sys.stderr)
        return 2
    for name, b, n, ratio in rows:
        print(f"{name:48s} {b:14.4f} {n:14.4f} {ratio:8.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
