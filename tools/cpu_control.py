#!/usr/bin/env python
"""Host-speed control probes for the scaling methodology (BENCH.md).

The sandbox VM's effective CPU speed swings 1.5-1.8x across hours (shared
hypervisor), so every bench.py run (each scaling leg included) is
bracketed by a single-core control and followed by a parallel
memory-streaming control.  This tool provides:

  python tools/cpu_control.py            # single-core control (seconds)
  python tools/cpu_control.py --procs 4  # N concurrent controls: hardware's
                                         # own parallel capacity at N procs
                                         # (per-proc times + max)

The parallel mode measures the BOX, not the code: if per-proc time at N
inflates over the single-proc time, that inflation is the hardware ceiling
for any N-wide job and bounds the achievable scaling efficiency (round 3:
32 procs ran 3.4x/4 vs 8 on this VM, so the 8->32 pair measures the box).
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time

_LOOP = (
    "import time\n"
    "t0 = time.perf_counter()\n"
    "x = 0\n"
    "for i in range(3_000_000):\n"
    "    x += i * i\n"
    "print(round(time.perf_counter() - t0, 3))\n"
)

# memory-streaming control: the integer loop above runs out of registers/L1
# and misses memory-bandwidth saturation entirely — but the parse stage
# (lxml strings through Arrow) is bandwidth-bound, so when N-wide pipeline
# legs degrade beyond what _LOOP predicts, THIS control shows whether the
# box's memory system is the binding constraint (round 4: 32-wide parse ran
# 3x slower than 8-wide while _LOOP inflated only 1.4x)
_MEMLOOP = (
    "import time, numpy as np\n"
    "a = np.arange(32_000_000, dtype=np.int64)\n"
    "t0 = time.perf_counter()\n"
    "s = 0\n"
    "for _ in range(8):\n"
    "    b = a.copy(); s += int(b[-1])\n"
    "print(round(time.perf_counter() - t0, 3))\n"
)


def single() -> float:
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i * i
    return round(time.perf_counter() - t0, 3)


_MEMLOOP_SMALL = (
    "import time, numpy as np\n"
    "a = np.arange(8_000_000, dtype=np.int64)\n"
    "t0 = time.perf_counter()\n"
    "s = 0\n"
    "for _ in range(2):\n"
    "    b = a.copy(); s += int(b[-1])\n"
    "print(round(time.perf_counter() - t0, 3))\n"
)


def parallel(n: int, mem: bool = False, small: bool = False) -> dict:
    t0 = time.perf_counter()
    code = (_MEMLOOP_SMALL if small else _MEMLOOP) if mem else _LOOP
    ps = [
        subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE)
        for _ in range(n)
    ]
    try:
        per = [float(p.communicate()[0]) for p in ps]
    finally:
        # if one child's output fails to parse mid-loop, don't abandon the
        # remaining Popen handles (they'd keep burning CPU/memory)
        for p in ps:
            if p.poll() is None:
                p.kill()
            p.wait()
    return {
        "procs": n,
        "kind": "mem" if mem else "cpu",
        "per_proc": per,
        "max": max(per),
        "mean": round(sum(per) / n, 3),
        "wall": round(time.perf_counter() - t0, 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--procs", type=int, default=1)
    ap.add_argument("--mem", action="store_true",
                    help="memory-streaming control instead of the integer loop")
    args = ap.parse_args()
    if args.procs <= 1 and not args.mem:
        print(json.dumps({"procs": 1, "ctl": single()}))
    else:
        print(json.dumps(parallel(max(args.procs, 1), mem=args.mem)))


if __name__ == "__main__":
    main()
