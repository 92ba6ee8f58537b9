"""Self-test of the benchmark's input generator.

    python3 perfbench/selftest.py

Checks that one seed gives a byte-identical sequence of operations, records
and tables, in this process and in a fresh one with another hash seed; that
another seed gives a different one; and that generation never reads a
clock, so the sequence cannot depend on timing. Exits non-zero on failure.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import gen  # noqa: E402


def _plain(o):
    if isinstance(o, np.ndarray):
        return o.tolist()
    if isinstance(o, np.generic):
        return o.item()
    raise TypeError(type(o))


def sequence(seed: int) -> str:
    """Everything a run derives from its seed, as canonical JSON."""
    return json.dumps({
        "serve": gen.serve_ops(seed, 4),
        "ingest": gen.ingest_steps(seed, 4),
        "tables": {name: make(seed) for name, make in gen.TABLE_MAKERS.items()},
    }, sort_keys=True, default=_plain)


def _no_clock(*_a, **_k):
    raise AssertionError("the generator read a clock")


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {what}")
    print(f"ok: {what}")


def main() -> int:
    if sys.argv[1:] == ["--print", "7"]:  # the fresh-process half
        sys.stdout.write(sequence(7))
        return 0

    clocks = ("time", "perf_counter", "monotonic", "time_ns", "perf_counter_ns")
    saved = {c: getattr(time, c) for c in clocks}
    for c in clocks:
        setattr(time, c, _no_clock)
    try:
        a, b = sequence(7), sequence(7)
    finally:
        for c, f in saved.items():
            setattr(time, c, f)
    check(a == b, "same seed, same sequence, no clock read")
    check(sequence(8) != a, "another seed, another sequence")

    env = dict(os.environ, PYTHONHASHSEED="12345")
    fresh = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--print", "7"],
        env=env, capture_output=True, text=True, check=True,
    ).stdout
    check(fresh == a, "same seed, same sequence in a fresh process")

    scratch = os.path.join(os.path.dirname(HERE), ".perfbench-tmp")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as d:
        gen.write_tables(7, os.path.join(d, "a"), gen.TABLE_MAKERS)
        time.sleep(1.1)  # a later wall clock must not change the bytes
        gen.write_tables(7, os.path.join(d, "b"), gen.TABLE_MAKERS)
        names = [f"{n}.parquet" for n in gen.TABLE_MAKERS]
        _, diff, err = filecmp.cmpfiles(
            os.path.join(d, "a"), os.path.join(d, "b"), names, shallow=False
        )
        check(not diff and not err, "same seed, byte-identical parquet tables")
    try:
        os.rmdir(scratch)
    except OSError:
        pass  # a benchmark run still uses it

    ops = gen.serve_ops(7, 50)
    blocks = [ops[i : i + gen.SERVE_BLOCK] for i in range(0, len(ops), gen.SERVE_BLOCK)]
    check(all(
        sorted((o["cls"], o["kind"], str(o["touch"])) for o in b)
        == sorted((c, k, str(u)) for c, k, u, n in gen.SERVE_BLOCK_MIX for _ in range(n))
        for b in blocks
    ), "every serve block has the fixed class mix")
    seen: set = set()
    old, distinct = [], True
    for s in gen.ingest_steps(7, 10):
        ids = [r["_id"] for r in s["records"]]
        distinct &= len(set(ids)) == len(ids) == gen.INGEST_BATCH
        old.append(sum(1 for i in ids if i in seen))
        seen.update(ids)
    check(distinct, "each ingest segment holds INGEST_BATCH distinct ids")
    want = round(gen.INGEST_BATCH * gen.INGEST_OVERWRITE)
    check(old == [0] + [want] * 9, "ingest segments after the first overwrite "
          f"{want} earlier ids")
    return 0


if __name__ == "__main__":
    sys.exit(main())
