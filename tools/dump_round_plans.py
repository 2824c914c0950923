"""Dump .explain('formatted') for every bench-flagged query (or the named
ones) to plans/<round>/<query>_<tag>.txt (tag = before/after). Usage:

    python tools/dump_round_plans.py r13 before [query ...]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from enterprise_data_warehouse_spark.queries import load_registry  # noqa: E402
from enterprise_data_warehouse_spark.session import get_spark  # noqa: E402
from scaling_probe import SF_DIRS  # noqa: E402

SF_DIR = SF_DIRS["0.1"]


def main(argv: list[str]) -> None:
    if len(argv) < 2:
        sys.exit(__doc__)
    rnd, tag, names = argv[0], argv[1], argv[2:]
    out = REPO / "plans" / rnd
    out.mkdir(parents=True, exist_ok=True)
    spark = get_spark(f"plan-dump-{rnd}")
    registry = load_registry()
    targets = names or [n for n, s in registry.items() if s.bench]
    for name in targets:
        df = registry[name].fn(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        (out / f"{name}_{tag}.txt").write_text(buf.getvalue())
        print(f"wrote {name}_{tag}.txt ({len(buf.getvalue())} chars)")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
