#!/bin/bash
# Cheap host-window probe (no JVM): single-thread CPU spin + memcpy,
# calibrated against its OWN idle baselines (pass as args; defaults
# measured on this host at load-average 0.16: spin min-of-3 ~285 ms,
# memcpy ~3.2 GB/s). These refs are specific to this probe's loops.
# Prints one line; exit 0 = looks clean.
# Usage: tools/window_probe.sh [spin_ref_ms] [mem_ref_gbs]
python3 - "$@" <<'EOF'
import time, sys
# best-of-3: single-shot Python timing jitters ~15% even at idle
spin_ms = float("inf")
for _ in range(3):
    t0 = time.perf_counter()
    x = 0
    for i in range(1_500_000):
        x = (x + (i ^ (x >> 3))) & 0xFFFFFFFFFFFFFFFF
    spin_ms = min(spin_ms, (time.perf_counter() - t0) * 1000)
buf = bytearray(128 * 1024 * 1024)
best = 0.0
for _ in range(3):
    t0 = time.perf_counter()
    b2 = bytes(buf)
    dt = time.perf_counter() - t0
    best = max(best, (2 * len(buf) / dt) / 1e9)
    del b2
spin_ref = float(sys.argv[1]) if len(sys.argv) > 1 else 290.0
mem_ref = float(sys.argv[2]) if len(sys.argv) > 2 else 3.2
clean = spin_ms < spin_ref * 1.12 and best > mem_ref * 0.85
print(f"[probe] spin {spin_ms:.0f} ms (ref {spin_ref:.0f}), mem {best:.1f} GB/s (ref {mem_ref:.1f}) -> {'CLEAN' if clean else 'dirty'}")
sys.exit(0 if clean else 1)
EOF
