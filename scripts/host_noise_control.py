"""Host-noise controls for the scaling-efficiency evidence.

Two Spark-free controls that bound what ANY parallel measurement on this
box can show (see BENCH/BASELINE.md "Scaling analysis — round 2"):

1. converter control — multiprocessing pool running the extraction
   converter alone (no JVM, no Arrow): the pure-Python thread-scaling
   ceiling of the kernel on this host right now;
2. md5 control — an allocation-free C workload (hashlib over a fixed
   buffer): if THIS doesn't scale ~1.0, the host itself is
   oversubscribed and no harness change can recover the target.

Usage: python scripts/host_noise_control.py [repeats]
Prints one JSON line per repeat so run-to-run variance is visible.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _convert(n: int) -> int:
    from fetch_engines_spark.extract import convert_document
    from fetch_engines_spark.fixtures import FIXTURES

    pages = [f.html for f in FIXTURES if f.must_contain or f.must_not_contain]
    c = 0
    for _ in range(n):
        for h in pages:
            convert_document(h, base_url="https://example.com/x")
            c += 1
    return c


def _md5(n: int) -> int:
    buf = b"x" * 65536
    h = 0
    for _ in range(n):
        h ^= hashlib.md5(buf).digest()[0]
    return h


def _level(fn, nproc: int, iters: int, warm: int) -> float:
    with mp.Pool(nproc) as p:
        p.map(fn, [warm] * nproc)
        t0 = time.time()
        p.map(fn, [iters] * nproc)
        return nproc * iters / (time.time() - t0)


def main() -> None:
    repeats = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    for r in range(repeats):
        conv4 = _level(_convert, 4, 120, 2)
        conv16 = _level(_convert, 16, 30, 2)
        conv8 = _level(_convert, 8, 60, 2)
        conv32 = _level(_convert, 32, 15, 2)
        md4 = _level(_md5, 4, 3000, 200)
        md16 = _level(_md5, 16, 3000, 200)
        print(
            json.dumps(
                {
                    "repeat": r,
                    "converter_eff_4_16": round((conv16 / conv4) / 4, 3),
                    "converter_eff_8_32": round((conv32 / conv8) / 4, 3),
                    "md5_eff_4_16": round((md16 / md4) / 4, 3),
                    "converter_docs_per_proc_unit": round(conv4 / 4, 1),
                }
            )
        )


if __name__ == "__main__":
    main()
