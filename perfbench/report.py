"""Result line, metric-name rules and the order-independent output checksum."""

from __future__ import annotations

import json
import math
import os
import re

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")


def load_spec(path: str = SPEC_PATH) -> dict:
    with open(path) as f:
        return json.load(f)


def check_metrics(metrics: dict[str, tuple[float, str]], expected: list[dict]) -> None:
    """Raise ValueError unless ``metrics`` holds exactly the ``expected``
    names, each with its declared unit, a valid name and a finite value."""
    want = {m["name"]: m["unit"] for m in expected}
    for name, (value, unit) in metrics.items():
        if not NAME_RE.fullmatch(name):
            raise ValueError(f"invalid metric name {name!r}")
        if not UNIT_RE.fullmatch(unit):
            raise ValueError(f"invalid unit {unit!r} for {name}")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"metric {name} is not a finite number: {value!r}")
        if want.get(name, unit) != unit:
            raise ValueError(f"metric {name} has unit {unit}, spec says {want[name]}")
    missing = sorted(set(want) - set(metrics))
    extra = sorted(set(metrics) - set(want))
    if missing or extra:
        raise ValueError(f"metric set differs from spec: missing {missing}, extra {extra}")


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })


# ---------------------------------------------------------------------------
# checksum: (rows, Σ low 32 bits, Σ high 32 bits, XOR) of one 64-bit hash
# per row — every part is invariant under row order and partitioning
# ---------------------------------------------------------------------------

_LO = 0xFFFFFFFF


def combine(hashes) -> tuple[int, int, int, int]:
    """Pure-Python checksum of signed 64-bit row hashes (the twin of
    :func:`checksum_exprs`)."""
    n = lo = hi = x = 0
    for h in hashes:
        u = h & 0xFFFFFFFFFFFFFFFF
        n += 1
        lo += u & _LO
        hi += u >> 32
        x ^= u
    if x >= 1 << 63:
        x -= 1 << 64
    return n, lo, hi, x


def checksum_exprs(df):
    """Aggregate columns computing :func:`combine` over ``xxhash64`` of
    every column of ``df`` — evaluated in the same pass that materialises
    the output."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(h.bitwiseAND(F.lit(_LO))).alias("lo"),
        F.sum(F.shiftrightunsigned(h, 32)).alias("hi"),
        F.bit_xor(h).alias("x"),
    ]


def checksum(df) -> tuple[int, int, int, int]:
    row = df.agg(*checksum_exprs(df)).collect()[0]
    return tuple(int(row[k] or 0) for k in ("n", "lo", "hi", "x"))


def observed(df, name: str = "perfbench_checksum"):
    """(``df`` with a checksum Observation attached, a function returning
    the checksum once an action on it has completed)."""
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *checksum_exprs(df)), lambda: tuple(
        int(obs.get[k] or 0) for k in ("n", "lo", "hi", "x"))


def checksum_and_sample(df, ids, id_col: str = "image_id"):
    """One action: the checksum of every output row (an Observation sits
    below the filter, which Spark does not push through it) and the rows
    whose ``id_col`` is in ``ids``."""
    from pyspark.sql import functions as F

    watched, result = observed(df)
    rows = watched.filter(F.col(id_col).isin([int(i) for i in ids])).collect()
    return result(), rows
