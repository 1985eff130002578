"""The repository benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload crawl_scrub --seed 1 --seconds 15 --trace 0

Generates the workload's input from the seed, sets up a Spark session three
times (setup_s is their median; each set-up ends with an untimed full-size
call) and after each set-up calls the program's public entry point on all
cores for a third of ``--seconds`` (docs_per_s is the median call). Every
call's full output is checked against the pure-Python oracle once the calls
are done. The last line of stdout is the result JSON; the line before it is
the report (host facts, per-call rates, accuracy). ``--trace 1`` prints the
per-layer ledger instead (see ledger.py). ``--steady K`` repeats a workload
K times in fresh processes and prints each end-to-end metric's median,
quartiles and spread next to its bound. Exits nonzero on any oracle
mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
MIN_CALLS = 3


def _load_package():
    """Import the program from this checkout, or exit nonzero without a
    result when the checkout does not hold it."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import pii_detection_redaction_spark as pkg
    except ImportError as e:
        sys.exit(f"perfbench: cannot import the package from {ROOT}: {e}")
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: package resolved outside the checkout: {pkg.__file__}")


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def measure(wl, seed: int, seconds: float, size: int, env, host) -> dict:
    """The untraced run: three set-ups, each followed by a third of the
    timed window, so the window's calls spread over the whole run and a
    drift in host speed over tens of seconds moves their median less than
    it moves one contiguous window."""
    import shutil

    import harness
    import workloads as W

    inp = W.ensure_input(wl, seed, size, env.inputs)
    tally = W.Tally(wl, W.ensure_oracle(wl, inp))
    meter = [harness.host_meter()]
    rss = harness.RssSampler().start()
    spark, setups, rates, timed = None, [], [], 0.0
    try:
        for k in range(SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = harness.build(env, host["wide_cores"])
            # the warm pass is a full-size call: a smaller sample starts
            # fewer Python workers than a full call runs, and the first full
            # call after it read ~10% slower than the rest
            W.run_once(wl, spark, inp, env.out_dir(f"warm{k}"))
            setups.append(time.perf_counter() - t0)
            shutil.rmtree(env.out_dir(f"warm{k}"), ignore_errors=True)
            last = k == SETUPS - 1
            while timed < seconds * (k + 1) / SETUPS or (last and len(rates) < MIN_CALLS):
                t0 = time.perf_counter()
                rates.append(tally.run(spark, inp, env.out_dir(f"call{len(rates)}")))
                timed += time.perf_counter() - t0
        tally.settle()
    except Exception as e:  # the run reports it and is not correct
        tally.errors.append(f"{type(e).__name__}: {e}")
    finally:
        harness.shutdown(spark)
        peak = rss.stop()
    meter.append(harness.host_meter())
    acc = tally.accuracy()
    metrics = {
        "docs_per_s": _metric(statistics.median(rates) if rates else 0.0, "docs/s"),
        "setup_s": _metric(statistics.median(setups) if setups else 0.0, "s"),
        "peak_rss_mb": _metric(peak, "MB"),
        "scrub_exact_frac": _metric(acc["scrub_exact_frac"], "ratio"),
    }
    report = {
        "workload": wl.name, "seed": seed, "records_per_call": tally.n,
        "input": wl.input_name(seed, size), "host": host,
        "calls_docs_per_s": [round(r, 3) for r in rates],
        "setups_s": [round(s, 3) for s in setups],
        "rss_at_peak_mb": rss.at_peak,
        "host_meter_per_s": [round(m) for m in meter],
        "accuracy": {k: _metric(v, "ratio") for k, v in acc.items()},
        "errors": tally.errors[:20],
    }
    return {"report": report, "correct": tally.correct(),
            "attempted": tally.attempted, "failed": tally.failed, "metrics": metrics}


def steady(args) -> int:
    """Repeats one workload ``--steady`` times per set, each in a fresh
    process with its own seed, and prints median, quartiles and spread of
    every end-to-end metric next to its bound. With ``--sets 2`` it also
    checks that the second set's medians are within the bounds of the
    first's."""
    spec = {m["name"]: m for m in benchmark_spec()["end_to_end"]}
    sets, ok = [], True
    for s in range(args.sets):
        values = {name: [] for name in spec}
        for i in range(args.steady):
            seed = args.seed + s * args.steady + i
            cmd = [sys.executable, os.path.abspath(__file__), "--workload",
                   args.workload, "--seed", str(seed), "--seconds",
                   str(args.seconds), "--trace", "0"]
            if args.size:
                cmd += ["--size", str(args.size)]
            p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 else {}
            if not res.get("correct"):
                print(json.dumps({"seed": seed, "returncode": p.returncode,
                                  "stderr": p.stderr[-2000:]}))
                return 1
            for name in spec:
                values[name].append(res["metrics"][name]["value"])
            report = json.loads(lines[-2])
            print(json.dumps({"set": s, "seed": seed, **{
                k: round(v[-1], 4) for k, v in values.items()},
                "calls": report["calls_docs_per_s"],
                "host_meter": report["host_meter_per_s"]}), flush=True)
        rows = {}
        for name, vals in values.items():
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else 0.0
            bound = spec[name]["bound"]
            rows[name] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                          "bound": bound, "within_third": spread <= bound / 3}
        sets.append(rows)
        print(json.dumps({"set": s, "workload": args.workload, "summary": rows}))
    if len(sets) == 2:
        for name, m in spec.items():
            a, b = sets[0][name]["median"], sets[1][name]["median"]
            worse = (a - b) / a if m["better"] == "higher" else (b - a) / a
            agree = worse <= m["bound"]
            ok &= agree
            print(json.dumps({"metric": name, "first": a, "second": b,
                              "worse_by": worse, "bound": m["bound"],
                              "agree": agree}))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=0,
                    help="records per input (default: the workload's size)")
    ap.add_argument("--steady", type=int, default=0, metavar="K")
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    args = ap.parse_args(argv)
    _load_package()
    import harness
    import workloads as W

    if args.workload not in W.WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                 f"choose from {sorted(W.WORKLOADS)}")
    if args.steady:
        return steady(args)
    wl = W.WORKLOADS[args.workload]
    size = args.size or W.SIZES[wl.name]
    env = harness.Env(ROOT, f"{wl.name}-s{args.seed}-t{args.trace}")
    host = harness.host_facts()
    try:
        if args.trace:
            import ledger

            out = ledger.traced_run(wl, args.seed, args.seconds, size, env, host)
        else:
            out = measure(wl, args.seed, args.seconds, size, env, host)
    finally:
        harness.shutdown(None)
        env.cleanup()
    print(json.dumps(out.pop("report")))
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
