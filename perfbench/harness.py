"""Measurement helpers shared by the workloads: the closed-loop runner
with its failure accounting, output fingerprints and peak memory."""

from __future__ import annotations

import os
import time
import traceback
import zlib
from dataclasses import dataclass, field

TRIPLE_COLS = ("subj", "pred", "obj", "obj_is_iri", "lang", "dtype")
SEP = "\x1f"


# --------------------------------------------------------------------------
# closed loop
# --------------------------------------------------------------------------

@dataclass
class LoopResult:
    samples: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def closed_loop(iteration, check, seconds: float, timeout_s: float,
                max_iters: int | None = None, between=None) -> LoopResult:
    """One client: each iteration starts after the previous one (and its
    check) finished, until `seconds` of loop time have passed.

    `iteration()` runs the timed work and returns a handle; `check(handle)`
    runs untimed and returns an error string or None. An iteration fails
    if it raises, takes longer than `timeout_s`, or fails its check.
    Only passing iterations contribute a timing sample. `between()` runs
    untimed after every iteration (cache release, directory cleanup).
    """
    res = LoopResult()
    t_loop = time.perf_counter()
    while True:
        res.attempted += 1
        err = None
        t0 = time.perf_counter()
        try:
            handle = iteration()
            dt = time.perf_counter() - t0
            if dt > timeout_s:
                err = f"timed out: {dt:.1f}s > {timeout_s:.1f}s"
            else:
                err = check(handle)
        except Exception:  # noqa: BLE001 - counted and reported, the loop goes on
            err = traceback.format_exc(limit=3)
        if err is None:
            res.samples.append(dt)
        else:
            res.failed += 1
            res.errors.append(err)
        if between is not None:
            between()
        if max_iters is not None and res.attempted >= max_iters:
            break
        if time.perf_counter() - t_loop >= seconds:
            break
    return res


# --------------------------------------------------------------------------
# fingerprints: row count + order-independent sum of per-row crc32
# --------------------------------------------------------------------------

def row_crc(values) -> int:
    """crc32 of one row, the pure-Python twin of `_row_crc_col` for
    string-valued rows (None → '')."""
    return zlib.crc32(SEP.join("" if v is None else str(v) for v in values).encode("utf-8"))


def fingerprint_rows(rows) -> tuple[int, int]:
    n, total = 0, 0
    for r in rows:
        n += 1
        total += row_crc(r)
    return n, total


def _row_crc_col(cols):
    from pyspark.sql import functions as F

    return F.crc32(F.concat_ws(SEP, *[F.coalesce(c.cast("string"), F.lit("")) for c in cols]))


def fingerprint_triples(df) -> tuple[int, int]:
    """The `q_kg_pipeline_synthetic` fingerprint over the triple columns."""
    from pyspark.sql import functions as F

    return _agg(df, _row_crc_col([F.col(c) for c in TRIPLE_COLS]))


def fingerprint_any(df) -> tuple[int, int]:
    """Fingerprint of an arbitrary result: each row as JSON with its
    columns sorted by name, so column order does not matter either."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    return _agg(df, F.crc32(F.to_json(F.struct(*[F.col(f"`{c}`") for c in cols]))))


def _agg(df, crc):
    from pyspark.sql import functions as F

    row = df.select(crc.alias("_crc")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("_crc").alias("s")
    ).collect()[0]
    return int(row["n"]), int(row["s"] or 0)


# --------------------------------------------------------------------------
# memory: /proc high-water marks of the JVM and its Python workers
# --------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_hwm_mb(root_pid: int) -> float:
    """Sum of VmHWM over `root_pid` and all its descendants, in MB."""
    kids = _children()
    todo, total = [root_pid], 0
    while todo:
        pid = todo.pop()
        total += _hwm_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0
