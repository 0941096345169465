"""Compare two saved runs of one workload (``run.py --report FILE``).

    python3 perfbench/compare.py BASE.json NEW.json

Prints each metric's change as a share of the base value.  Exits with 2,
printing nothing else, when the runs were taken at different ``cpus``
or are of different workloads or modes.  For a traced NEW against an
untraced BASE of the same seed, use ``--overhead``: it prints the
tracing overhead of each traced end-to-end value.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def main(argv: list[str]) -> int:
    overhead = "--overhead" in argv
    paths = [a for a in argv if a != "--overhead"]
    if len(paths) != 2:
        print(__doc__, file=sys.stderr)
        return 1
    base, new = (json.load(open(p)) for p in paths)
    if overhead:
        if base["host"]["cpus"] != new["host"]["cpus"]:
            print("refused: cpus differ", file=sys.stderr)
            return 2
        for name in ("latency_p50_ms", "setup_s"):
            traced = new["metrics"][f"traced.{name}"]["value"]
            plain = base["metrics"][name]["value"]
            print(f"{name} tracing overhead {traced - plain:+.4f} "
                  f"({(traced - plain) / plain:+.2%})")
        return 0
    try:
        delta = stats.compare(base, new)
    except stats.IncomparableResults as e:
        print(f"refused: {e}", file=sys.stderr)
        return 2
    for name, d in delta.items():
        print(f"{name} {d:+.2%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
