"""Smoke test of the benchmark itself.

    python3 perfbench/smoke_test.py

Runs every workload briefly on TPC-H scale 0.001, untraced and traced, and
checks that each run prints every metric with its unit, that the last line
is the JSON result with no failures, and that a deliberately corrupted
expected answer makes ``error_rate`` positive.  Exits non-zero on the first
broken expectation.
"""

from __future__ import annotations

import contextlib
import io
import json
import multiprocessing
import sys
import traceback

import run
import workloads


def drop_first_row(wl, name: str, sql: str) -> None:
    rel = wl.duck.sql(sql)
    wl.checks[name] = workloads.expect_rows(rel.columns, rel.fetchall()[1:])


def corrupt_lookups(wl) -> None:
    for key in wl.lookups.answers:
        if key[0] == "order_parts":
            wl.lookups.answers[key] = [("no such part", -1.0)]


TAMPER = {
    "point_lookup": corrupt_lookups,
    "read_write_mix": corrupt_lookups,
    "analytic_scan": lambda wl: drop_first_row(
        wl, "g_agg_stats", wl.entry.oracle_sql()["g_agg_stats"]),
    "curation": lambda wl: drop_first_row(
        wl, "exact_dedup", wl.entry.oracle_sql()["p_exact_dedup"]),
}


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"smoke test failed: {msg}")


def child(workload: str, trace: int, tampered: bool, results) -> None:
    """One benchmark run in a fresh interpreter, as the benchmark is run
    for real (the engine keeps some per-process state, such as UDFs bound
    to the first JVM); sends back (exit code, stdout lines)."""
    run.TPCH_SCALE = 0.001
    out = io.StringIO()
    code = 1
    try:
        with contextlib.redirect_stdout(out):
            code = run.main(["--workload", workload, "--seed", "3", "--seconds", "2",
                             "--trace", str(trace)],
                            tamper=TAMPER[workload] if tampered else None)
    except Exception:
        out.write(traceback.format_exc())
    finally:
        results.put((code, out.getvalue().strip().splitlines()))


def run_once(workload: str, trace: int, tampered: bool = False) -> tuple:
    ctx = multiprocessing.get_context("spawn")
    results = ctx.Queue()
    proc = ctx.Process(target=child, args=(workload, trace, tampered, results))
    proc.start()
    code, lines = results.get(timeout=600)  # drain before join
    proc.join(timeout=60)
    check(not proc.is_alive() and proc.exitcode == 0, f"{workload}: child did not finish")
    check(code == 0, f"{workload} trace={trace} exited {code}: {lines[-20:]}")
    return lines, json.loads(lines[-1])


def main() -> int:
    for workload in workloads.WORKLOADS:
        for trace, names in ((0, run.END_TO_END), (1, run.PER_LAYER)):
            lines, res = run_once(workload, trace)
            tag = f"{workload} trace={trace}"
            check(res["correct"] and res["failed"] == 0, f"{tag}: {lines}")
            check(set(res["metrics"]) == set(names), f"{tag}: metric names")
            for name, unit in names.items():
                check(res["metrics"][name]["unit"] == unit, f"{tag}: unit of {name}")
                check(any(ln.startswith(f"{name} ") and ln.endswith(f" {unit}")
                          for ln in lines), f"{tag}: {name} not printed with its unit")
            check(any("error_rate=0 ratio" in ln for ln in lines), f"{tag}: error_rate")
            if workload == "read_write_mix":
                check(any("write_latency_p50_ms=" in ln and "write_latency_p90_ms=" in ln
                          and (not trace or "runtime.mutate_ms=" in ln)
                          for ln in lines), f"{tag}: write latency")
        lines, res = run_once(workload, 0, tampered=True)
        check(not res["correct"] and res["failed"] > 0,
              f"{workload}: a corrupted expected answer was not caught")
        rate = [ln for ln in lines if "error_rate=" in ln][0]
        check(float(rate.split("error_rate=")[1].split()[0]) > 0,
              f"{workload}: error_rate not positive")
        print(f"ok {workload}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
