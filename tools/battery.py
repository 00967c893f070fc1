"""One-command closing battery — the per-round gate checklist, wired.

The r8 verdict asked for the recompute-diamond audit to run "each closing
battery like --driver-shape"; this tool makes the whole battery a single
command so no gate can be forgotten or silently skipped. Each gate runs as
a subprocess (fresh interpreter, fresh SparkSession — the same isolation
the driver has), its verdict is parsed from output/exit code, and the
summary prints as a checklist. Exit status is nonzero if any gate fails.

Gates (default):
  check          tools/check.py <sf0.01>          exact-value differential
  driver-shape   tools/check.py --driver-shape    scalar-schema sweep
  scan-audit     tools/scan_audit.py <sf0.001>    recompute-diamond audit
  pytest         python -m pytest tests/ -q       full suite
  bench          python bench.py                  headline <= 2x BASELINE.md

--full adds the adversarial parity modes (null/ties/nasty/dupkeys/neg/
extreme/times plus two fresh --rand seeds derived from the round clock) —
the long tail a closing battery should pay once per round.
--skip GATE[,GATE] drops named gates (e.g. a bench already recorded).

Usage: python tools/battery.py [--full] [--skip a,b]
                               [--sf001 DIR] [--sf01 DIR]
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PY = sys.executable


def run(cmd: list[str]) -> tuple[int, str]:
    p = subprocess.run(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True
    )
    return p.returncode, p.stdout


def main() -> int:
    argv = sys.argv[1:]
    full = "--full" in argv
    skip = set()
    if "--skip" in argv:
        skip = set(argv[argv.index("--skip") + 1].split(","))
    sf001 = argv[argv.index("--sf001") + 1] if "--sf001" in argv else "/root/testdata/sf0.001"
    sf01 = argv[argv.index("--sf01") + 1] if "--sf01" in argv else "/root/testdata/sf0.01"

    gates: list[tuple[str, list[str], str]] = [
        ("check", [PY, "tools/check.py", sf01], r"== \d+ pass, 0 fail"),
        ("driver-shape", [PY, "tools/check.py", "--driver-shape", sf001], r"== driver-shape: 0 violation"),
        ("scan-audit", [PY, "tools/scan_audit.py", sf001], r"== scan-audit: \d+ ok, 0 flagged, 0 stale"),
        ("pytest", [PY, "-m", "pytest", "tests/", "-q"], r"\d+ passed"),
        ("bench", [PY, "bench.py"], None),  # verdict computed from JSON below
    ]
    if full:
        _PARITY_OK = r"0 unexpected divergences, 0 stale"
        for mode in ("", "--ties", "--nasty", "--dupkeys", "--neg", "--extreme", "--times"):
            name = f"parity{mode or '-null'}"
            cmd = [PY, "tools/null_parity.py"] + ([mode] if mode else [])
            gates.append((name, cmd, _PARITY_OK))
        for seed in (int(time.time()) % 1000, int(time.time()) % 1000 + 1):
            gates.append(
                (f"parity-rand-{seed}", [PY, "tools/null_parity.py", "--rand", f"--seed={seed}"], _PARITY_OK)
            )

    results = []
    for name, cmd, ok_pat in gates:
        if name in skip:
            results.append((name, "SKIP", 0.0, "--skip"))
            continue
        t0 = time.perf_counter()
        rc, out = run(cmd)
        dt = time.perf_counter() - t0
        tail = out.strip().splitlines()[-1] if out.strip() else ""
        if name == "bench":
            verdict, tail = _bench_verdict(out)
        elif rc != 0:
            verdict = "FAIL"
        elif ok_pat and re.search(ok_pat, out) is None:
            verdict = "FAIL"
        else:
            verdict = "PASS"
        results.append((name, verdict, dt, tail[:110]))
        print(f"[{verdict}] {name} ({dt:.0f}s)  {tail[:110]}", flush=True)

    print("\n== battery ==")
    n_fail = 0
    for name, verdict, dt, tail in results:
        if verdict == "FAIL":
            n_fail += 1
        print(f"  {verdict:4s}  {name:18s} {dt:6.0f}s  {tail}")
    print(f"== {len(results)} gates, {n_fail} failed ==")
    return 1 if n_fail else 0


def _bench_verdict(out: str) -> tuple[str, str]:
    """PASS iff the JSON line parses, carries no ``errors``, has a positive
    headline total, and that total is <= 2x BASELINE.md's total. A bench
    whose headline did not run (``value`` -1.0) or that recorded a failed
    leg reads FAIL: a check that did not run never reports ok."""
    for line in reversed(out.strip().splitlines()):
        if line.startswith("{"):
            try:
                d = json.loads(line)
            except Exception:
                continue
            base = d.get("baseline_md_total")
            val = d.get("value")
            if not (base and val):
                return "FAIL", "bench JSON missing value/baseline"
            if d.get("errors"):
                return "FAIL", f"bench errors: {sorted(d['errors'])}"
            if val <= 0:
                return "FAIL", f"bench headline did not run (value {val})"
            ratio = val / base
            summary = (
                f"total {val:.3f}s = {ratio:.2f}x baseline; "
                f"streaming {d.get('streaming_events_per_sec', -1)} ev/s"
            )
            return ("PASS" if ratio <= 2.0 else "FAIL"), summary
    return "FAIL", "no bench JSON line found"


if __name__ == "__main__":
    sys.exit(main())
