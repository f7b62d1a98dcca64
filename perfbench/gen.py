"""Seeded input generator for the CLI ops.

The same seed gives byte-identical files. Sizes are fixed per file and
only the contents follow the seed, so runs with different seeds do the
same amount of work. (The registry workload reads fixed tables under
perfbench/data/; its seed sets only the query order.)
"""

from __future__ import annotations

import os
import random

# ---------------------------------------------------------------- CLI

CLI_SIZES = {
    "mixed": 2_000,  # -FS group-by over mixed-affinity columns
    "people": 2_000,  # CSV with a header: update/delete script, -dbfile input
}

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango"
).split()
_CITIES = ["Oslo", "Lima", "Pune", "Kyiv", "Cali", "Graz", "Turku", "Nice"]
# exact in binary floating point, so sums do not depend on order
_REALS = ["0.5", "1.25", "2.75", "-0.5", "10.125", "3.5", "-2.25", "0.25"]
_TEXTS = ["x", "ab", "Q", "zz", "ba"]


def _write(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write("".join(line + "\n" for line in lines))


def cli_inputs(seed: int, out_dir: str) -> dict[str, str]:
    """Write the CLI input files; return {name: path}."""
    rng = random.Random(f"cli-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    paths = {}

    def path(name: str) -> str:
        paths[name] = os.path.join(out_dir, name)
        return paths[name]

    # integer column with some text, real column with some integers,
    # text grouping key
    def int_or_text() -> str:
        return rng.choice(_TEXTS) if rng.random() < 0.1 else str(rng.randint(-50, 500))

    def real_or_int() -> str:
        return str(rng.randint(0, 9)) if rng.random() < 0.2 else rng.choice(_REALS)

    _write(
        path("mixed.txt"),
        [
            f"{int_or_text()},{real_or_int()},g{rng.randint(0, 11)}"
            for _ in range(CLI_SIZES["mixed"])
        ],
    )
    _write(
        path("people.csv"),
        ["id,name,city,score"]
        + [
            f"{i},{rng.choice(_WORDS)}{rng.randint(0, 99)},"
            f"{rng.choice(_CITIES)},{rng.randint(0, 100)}"
            for i in range(1, CLI_SIZES["people"] + 1)
        ],
    )
    return paths
