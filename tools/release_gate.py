"""The one-command release gate: every standing correctness/robustness
check, sequentially, with a non-zero exit if ANY fails — so no round
can accidentally skip one (the round-2 crashed-bench incident is the
precedent; the checks all existed, they just weren't one command).

Stages (each a subprocess, same interpreter):
  1. pytest tests/ -q                    — full suite incl. sf0.001 oracle parity
  2. sf0.01 gate-fidelity parity         — driver-SF oracle re-run
  3. fuzz_sweep --regen                  — degenerate-data differential (exit = divergences)
  3b. streaming_fuzz_sweep               — stream faces vs batch twins on the
                                           same dirty corpus (exit = divergences)
  3c. parser_fuzz_sweep                  — S5-S12 parser dead-letter contract on
                                           truncated/broken inputs (exit = crashes)
  4. empty_input_sweep                   — zero-row robustness (exit = raw crashes)
  5. empty_input_sweep --nulls           — NULL-payload robustness
  6. partition_invariance_sweep          — results identical under an adversarial
                                           physical profile (exit = divergences)
  7. skew_probe                          — whale-key join: AQE skew-join, naive,
                                           and salted strategies must agree
  7b. codegen_residency                  — every registry query twice at sf0.001;
                                           the warm sweep must compile no class
                                           (the codegen cache holds the registry)
  8. bench.py at $SPARK_GRAFT_SF_DIR     — must emit its JSON line with rc=0
  9. duckdb_gate (opt-in, --with-duckdb) — interleaved Spark-vs-DuckDB on the
                                           oracled headliners at sf0.1; exit
                                           non-zero if the AGGREGATE ratio
                                           exceeds the BASELINE.json 2x gate

Usage:
    python tools/release_gate.py            # all stages (~40 min)
    python tools/release_gate.py --quick    # skip stage 2 + run bench at sf0.01
    python tools/release_gate.py --with-duckdb     # + stage 9 (judge's bench)
    python tools/release_gate.py -s fuzz -s bench   # named stages only
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def stages(
    quick: bool, with_duckdb: bool = False
) -> list[tuple[str, list[str], dict[str, str]]]:
    py = sys.executable
    out: list[tuple[str, list[str], dict[str, str]]] = [
        ("pytest", [py, "-m", "pytest", "tests/", "-q"], {}),
    ]
    if not quick:
        out.append(
            (
                "parity_sf001",
                [py, "-m", "pytest", "tests/test_oracle_parity.py", "-q"],
                {"SPARK_GRAFT_PARITY_SF_DIR": "/root/testdata/sf0.01"},
            )
        )
    out += [
        ("fuzz", [py, "tools/fuzz_sweep.py", "--regen"], {}),
        ("streamfuzz", [py, "tools/streaming_fuzz_sweep.py"], {}),
        ("parserfuzz", [py, "tools/parser_fuzz_sweep.py"], {}),
        ("empty", [py, "tools/empty_input_sweep.py"], {}),
        ("nulls", [py, "tools/empty_input_sweep.py", "--nulls"], {}),
        ("pinv", [py, "tools/partition_invariance_sweep.py"], {}),
        ("skew", [py, "tools/skew_probe.py"], {}),
        ("codegen_residency", [py, "tools/codegen_residency.py"], {}),
        (
            "bench",
            [py, "bench.py"],
            {"SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.01"} if quick else {},
        ),
    ]
    if with_duckdb:
        out.append(("duckdb", [py, "tools/duckdb_gate.py"], {}))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--quick", action="store_true", help="sf0.01 bench, skip dual-SF parity")
    ap.add_argument(
        "--with-duckdb",
        action="store_true",
        help="add stage 9: interleaved DuckDB aggregate-ratio gate at sf0.1",
    )
    ap.add_argument(
        "-s",
        "--stage",
        action="append",
        default=[],
        help="run only the named stage(s); repeatable",
    )
    args = ap.parse_args()

    results: list[tuple[str, int, float]] = []
    with_duckdb = args.with_duckdb or "duckdb" in args.stage
    for name, cmd, env_extra in stages(args.quick, with_duckdb):
        if args.stage and name not in args.stage:
            continue
        print(f"=== release_gate: {name}: {' '.join(cmd)}", flush=True)
        t0 = time.monotonic()
        rc = subprocess.run(
            cmd, cwd=REPO, env={**os.environ, **env_extra}
        ).returncode
        results.append((name, rc, time.monotonic() - t0))
        print(f"=== release_gate: {name} rc={rc}", flush=True)

    print("\n=== release_gate summary ===")
    worst = 0
    for name, rc, dt in results:
        print(f"  {'PASS' if rc == 0 else 'FAIL':4} {name:17} rc={rc:<4} {dt:8.1f}s")
        worst = max(worst, 0 if rc == 0 else 1)
    return worst


if __name__ == "__main__":
    sys.exit(main())
