"""Output digests, the host-noise sentinel and memory readings."""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np


def sentinel_s() -> float:
    """Fixed-size seeded NumPy GEMM: constant CPU work, so its wall time
    exposes host stalls. Timed before and after every run."""
    def gemms():
        a = np.random.RandomState(7).rand(768, 768)
        t0 = time.perf_counter()
        for _ in range(8):
            a = a @ a
            a /= np.abs(a).max() + 1.0
        return time.perf_counter() - t0

    gemms()  # untimed: BLAS thread pool start-up and first-touch of buffers
    return gemms()


def _canon(value):
    if isinstance(value, float):
        return round(value, 4)
    if isinstance(value, (list, tuple)):
        return [_canon(v) for v in value]
    if isinstance(value, dict):
        return sorted((k, _canon(v)) for k, v in value.items())
    if isinstance(value, (bytes, bytearray)):
        return value.hex()
    if hasattr(value, "asDict"):
        return _canon(list(value))
    return value if value is None or isinstance(value, (int, str, bool)) else str(value)


def rows_digest(rows) -> str:
    """Order-insensitive digest of collected rows, floats rounded."""
    lines = sorted(json.dumps(_canon(r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:24]


def tables_digest(tables: dict) -> dict[str, str]:
    """Order-insensitive digest of each DataFrame in one Spark job: a row
    hash (xxhash64 over every column, floats rounded to 4 places, maps as
    sorted JSON) summed per table as two 32-bit halves, plus the row count."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def canon(field):
        c, t = F.col(f"`{field.name}`"), field.dataType
        if isinstance(t, (T.FloatType, T.DoubleType)):
            return F.round(c, 4)
        if isinstance(t, T.ArrayType) and isinstance(
            t.elementType, (T.FloatType, T.DoubleType)
        ):
            return F.transform(c, lambda x: F.round(x, 4))
        if isinstance(t, T.MapType):
            return F.to_json(F.array_sort(F.map_entries(c)))
        return c

    parts = [
        df.select(
            F.lit(name).alias("t"),
            F.xxhash64(*[canon(f) for f in df.schema.fields]).alias("h"),
        )
        for name, df in tables.items()
    ]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    rows = (
        union.groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.shiftright("h", 32)).alias("hi"),
            F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
        )
        .collect()
    )
    got = {r["t"]: f"{r['n']}:{r['hi']}:{r['lo']}" for r in rows}
    # an empty table has no group row
    return {name: got.get(name, "0:0:0") for name in tables}


class DigestRecord:
    """Digests the benchmark records per workload and seed. Within a run the
    first digest of a key is the record; a file in the output directory keeps
    the record across runs of the same checkout, so a repeated seed is checked
    against the earlier run too."""

    def __init__(self, path: str) -> None:
        self.path = path
        try:
            with open(path) as f:
                self.saved = json.load(f)
        except (OSError, json.JSONDecodeError):
            self.saved = {}
        self.seen: dict[str, str] = {}

    def check(self, key: str, digest: str) -> bool:
        ok = self.seen.setdefault(key, digest) == digest
        return ok and self.saved.get(key, digest) == digest

    def save(self) -> None:
        with open(self.path, "w") as f:
            json.dump({**self.seen, **self.saved}, f, sort_keys=True)


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _proc_children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb(pid: int) -> dict[str, float]:
    """Peak resident set (VmHWM) of this process and every live descendant
    (the Spark JVM and its Python workers), summed per program name."""
    total: dict[str, float] = {}
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            total[name] = total.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return total


def host_steal_s() -> float:
    """CPU time the hypervisor took from this machine's CPUs so far (the
    `steal` column of /proc/stat): contention from outside the machine."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
