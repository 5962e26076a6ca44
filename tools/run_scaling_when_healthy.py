"""Launch the scaling pairs only when the host is in a healthy window.

The sandbox host shows multi-x throttling phases (BASELINE.md §3; measured:
a 2000^2 matmul x3 taking 20s instead of <1s, load-average 290 on an idle
container). Scaling evidence taken during such a phase is meaningless, so
this wrapper probes single-thread compute speed and only starts
tools/bench_scaling.py after two consecutive healthy probes.
"""
import subprocess
import sys
import time

from bench_scaling import AMBIENT_BUSY_MAX, _ambient_busy_cores, _health_probe


def wait_healthy(threshold: float = 1.2, max_wait: float = 7200.0) -> bool:
    # Both throttling modes gate entry (BASELINE.md §3 + r4 verdict item 1):
    # the single-thread probe catches cgroup quota windows, the ambient
    # /proc/stat sample catches other tenants holding cores — which the
    # probe alone cannot see, and which is what poisoned the r4 record
    # (probe 0.27s "healthy", ambient ~10 busy cores, local[32] 3.7x slower
    # than local[8]).
    t0 = time.time()
    streak = 0
    while time.time() - t0 < max_wait:
        dt = _health_probe()
        busy = _ambient_busy_cores()
        print(f"probe {dt:.2f}s ambient {busy:.1f} cores (streak {streak})",
              flush=True)
        if dt < threshold and busy < AMBIENT_BUSY_MAX:
            streak += 1
            if streak >= 2:
                return True
            time.sleep(20)
        else:
            streak = 0
            time.sleep(60)
    return False


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    for n, rounds in ((8, 2), (4, 2)):
        if not wait_healthy():
            print(f"TIMEOUT waiting for healthy host before n={n}", flush=True)
            return
        print(f"launching bench_scaling n={n}", flush=True)
        subprocess.run([sys.executable, "tools/bench_scaling.py", sf, str(n), str(rounds)])
    print("ALL DONE", flush=True)


if __name__ == "__main__":
    main()
