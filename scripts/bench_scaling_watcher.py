"""N-vs-4N scaling tool for a burst-saturated shared box.

Subcommands (``watch`` is the default)::

    python3 scripts/bench_scaling_watcher.py [watch]
    python3 scripts/bench_scaling_watcher.py summarize LEGS.jsonl [OUT.json]
    python3 scripts/bench_scaling_watcher.py ceiling [> BENCH/ceiling_<day>.json]

``watch``: opportunistic quantum-gated scaling legs.  A gated 3-trial
protocol fails on days when co-tenant burst campaigns run longer than any
leg: every leg of every trial absorbs 1.3-2x mid-run dilation and the
minima are still polluted (see BENCH/gated_4v16_80k_r4h.json: six legs,
best pair 0.59, every during-mean >= 1.37x idle).  The watcher inverts
control: it samples the single-thread CPU quantum continuously and only
LAUNCHES a leg when the core reads truly clean (two consecutive samples at
or below the clean bar, 1 s apart), alternating hi/lo so both levels
accumulate attempts.  Legs append to a pooled JSONL; the round's evidence
is the per-level minima across the pool (``summarize``).

``ceiling``: the same-day hardware ceiling for the LO-vs-HI comparison.
Co-tenant bursts and SMT/turbo effects mean even an idle box does not
scale 4x from 4 to 16 workers, so a pipeline efficiency is only
interpretable against an embarrassingly-parallel ``mp.Pool`` of CPU quanta
(zero shuffle, zero JVM, zero Python-worker startup): pipeline speedup /
ceiling speedup is the machine-independent number (BENCH/BASELINE.md
"normalized" columns).

Env: WATCH_LO/WATCH_HI (cores; also the ``ceiling`` pool sizes),
WATCH_DOCS, WATCH_CLEAN (quantum bar, s), WATCH_HOURS (stop after),
WATCH_OUT (jsonl path), WATCH_TRIALS (best-of-N inside each leg; default
1 for scaling legs, set 2 + LO=HI=32 + WATCH_TASKSET=0 to pool the EXACT
driver headline protocol — the 20k-doc local[32] record was burst-hostage
three rounds running, so the headline needs the same pooled-minima
treatment as the scaling pairs), WATCH_TASKSET, WATCH_PATTERN.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
from bench import _cpu_quantum, _load1  # noqa: E402  (the one CPU meter)

LO = int(os.environ.get("WATCH_LO", "4"))
HI = int(os.environ.get("WATCH_HI", "16"))
DOCS = os.environ.get("WATCH_DOCS", "80000")
CLEAN = float(os.environ.get("WATCH_CLEAN", "0.13"))
HOURS = float(os.environ.get("WATCH_HOURS", "4.0"))
OUT = os.environ.get("WATCH_OUT", "/tmp/watcher_legs.jsonl")
TRIALS = int(os.environ.get("WATCH_TRIALS", "1"))

#: pin each leg to exactly N cores with taskset.  local[N] alone does
#: NOT model an N-core executor on a 32-core box: the JVM sizes its GC
#: worker pool (~5/8 of MACHINE cores = ~23 threads here), netty/shuffle
#: IO pools, and the in-run meter thread from the box, not the master
#: string — measured lo-leg load_after reads 4.1-4.7 for "local[4]", so
#: the 4-core leg borrows ~10-15% extra CPU, inflating its rate and
#: mechanically depressing every N-vs-4N ratio.  taskset bounds the
#: whole process tree (JVM + pyspark workers); OpenJDK's
#: availableProcessors honors the affinity mask, so GC/netty pools
#: auto-size to N as they would on a real N-core executor.
TASKSET = os.environ.get("WATCH_TASKSET", "") == "1"

#: ``ceiling`` pool work: keep units >= 8x HI so pool spawn cost
#: amortizes (~11 s per 4-process leg); best of TRIALS per level
CEILING_UNITS = 256
CEILING_TRIALS = 3

#: cleanest single-thread quantum ever sampled on the 32-core scaling host
QUANTUM_FLOOR = 0.1075


def run_leg(cpus: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_KG_ONLY="1", SPARK_GRAFT_BENCH_TRIALS=str(TRIALS),
               SPARK_GRAFT_BENCH_DOCS=DOCS)
    cmd = [sys.executable, os.path.join(REPO, "bench.py")]
    if TASKSET:
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    # external co-tenant meter: on a pinned leg the bench-internal meter
    # thread shares the leg's own N-core mask and self-contends with the
    # task threads, so its "during" stats no longer isolate co-tenant
    # pressure.  This thread runs in the (unpinned) watcher process and
    # samples cores OUTSIDE the leg's mask — co-tenant campaigns are not
    # pinned and land there too.
    import threading
    samples: list[float] = []
    done = threading.Event()

    def _meter() -> None:
        while not done.is_set():
            samples.append(_cpu_quantum())
            done.wait(2.0)

    mt = threading.Thread(target=_meter, daemon=True)
    mt.start()
    try:
        out = subprocess.run(cmd, env=env, capture_output=True, text=True)
    finally:
        done.set()
        mt.join(timeout=5)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:] + "\n")
        raise subprocess.CalledProcessError(out.returncode, cmd)
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    if samples:
        s = sorted(samples)
        rec["watcher_quantum_during"] = {
            "n": len(s), "min": round(s[0], 4), "max": round(s[-1], 4),
            "p50": round(s[len(s) // 2], 4),
            "mean": round(sum(s) / len(s), 4)}
    return rec


#: leg schedule, cycled: "hi,lo" alternates; "hi,hi,hi,lo" spends 3 of 4
#: clean windows on the short hi leg.  Useful once one level's minimum
#: is established by several tight samples (the lo floor converged to
#: within 2% across three legs) and the other level is the one still
#: noise-bound: hi legs are ~3x shorter, so a clean window is ~3x more
#: likely to cover one end-to-end.
PATTERN = [s.strip() for s in
           os.environ.get("WATCH_PATTERN", "hi,lo").split(",")]


def watch() -> None:
    t_end = time.time() + HOURS * 3600
    idx = 0
    while time.time() < t_end:
        q1 = _cpu_quantum()
        if q1 > CLEAN or _load1() > 1.5:
            time.sleep(25)
            continue
        time.sleep(1.0)
        q2 = _cpu_quantum()
        if q2 > CLEAN:
            time.sleep(25)
            continue
        cpus = HI if PATTERN[idx % len(PATTERN)] == "hi" else LO
        idx += 1
        ld = _load1()
        try:
            r = run_leg(cpus)
        except (subprocess.CalledProcessError, ValueError,
                KeyError) as exc:
            # a failed or garbled leg must not kill a multi-hour
            # unattended pool (e.g. a child launched against a
            # mid-edit working tree); log and wait for the next window
            print(f"leg failed: {exc!r}", flush=True)
            time.sleep(30)
            continue
        rec = {"cpus": cpus, "docs": int(DOCS), "taskset": TASKSET,
               "trials": TRIALS,
               "kg_secs": r["queries"]["kg_triples"], "rate": r["value"],
               "n_triples": r["n_triples"],
               "gate_quantum": [round(q1, 4), round(q2, 4)],
               "load_before": ld, "load_after": _load1(),
               "cpu_quantum_idle": r.get("cpu_quantum_idle"),
               "cpu_quantum_during": r.get("cpu_quantum_during"),
               "watcher_quantum_during": r.get("watcher_quantum_during"),
               "ts": time.strftime("%H:%M:%S")}
        with open(OUT, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(json.dumps(rec), flush=True)


def summarize(path: str) -> dict:
    """Pooled legs -> the round's scaling record.

    Per-level pooled minima by wall-clock are the raw reading; the
    meter-normalized reading scales each minimum leg's wall by its own
    out-of-mask dilation (watcher-mean quantum during the leg vs the box's
    absolute single-thread quantum floor).  Pooled minima are
    self-correcting toward clean-vs-clean: dirty legs are never minima
    once a cleaner window produces a faster leg, and a dirty floor is
    flagged by its own meter."""
    with open(path) as f:
        legs = [json.loads(line) for line in f if line.strip()]
    if not legs:
        raise SystemExit(f"no legs in {path}")
    levels = sorted({l["cpus"] for l in legs})
    if len(levels) == 1:
        return _summarize_headline(legs, levels[0])
    if len(levels) != 2:
        raise SystemExit(f"expected 1 or 2 levels, got {levels}")
    lo_c, hi_c = levels
    docs = {l["docs"] for l in legs}
    if len(docs) != 1:
        raise SystemExit(f"mixed doc counts in pool: {docs}")

    def best(cpus: int) -> tuple:
        pool = [l for l in legs if l["cpus"] == cpus]
        return min(pool, key=lambda l: l["kg_secs"]), len(pool)

    lo, n_lo = best(lo_c)
    hi, n_hi = best(hi_c)

    def meter_mean(leg: dict) -> float:
        return leg.get("watcher_quantum_during", {}).get("mean", QUANTUM_FLOOR)

    def normalized(leg: dict) -> float:
        return leg["kg_secs"] / (meter_mean(leg) / QUANTUM_FLOOR)

    raw = (lo["kg_secs"] / hi["kg_secs"]) / (hi_c / lo_c)
    norm = (normalized(lo) / normalized(hi)) / (hi_c / lo_c)
    return {
        "protocol": ("quantum-gated opportunistic pooled legs, "
                     "taskset-pinned to N cores"),
        "docs": lo["docs"],
        "lo": lo_c,
        "hi": hi_c,
        "n_legs_lo": n_lo,
        "n_legs_hi": n_hi,
        "rate_lo": lo["rate"],
        "rate_hi": hi["rate"],
        "kg_secs_lo": lo["kg_secs"],
        "kg_secs_hi": hi["kg_secs"],
        "watcher_mean_lo": meter_mean(lo),
        "watcher_mean_hi": meter_mean(hi),
        "quantum_floor": QUANTUM_FLOOR,
        "speedup": round(lo["kg_secs"] / hi["kg_secs"], 2),
        "efficiency_raw": round(raw, 3),
        "efficiency_meter_normalized": round(norm, 3),
    }


def _summarize_headline(legs: list, cpus: int) -> dict:
    """Single-level pool = the driver headline protocol run as pooled
    quantum-gated legs: the record is the fastest leg, with its own meter
    stamps so a burst-free floor is self-evidencing."""
    best = min(legs, key=lambda l: l["kg_secs"])
    during = best.get("watcher_quantum_during", {}) or \
        best.get("cpu_quantum_during", {})
    return {
        "protocol": ("driver headline protocol (warm-started best-of-"
                     f"{best.get('trials', 1)}, local[{cpus}]) as "
                     "quantum-gated pooled legs; record = fastest leg"),
        "docs": best["docs"],
        "cpus": cpus,
        "n_legs": len(legs),
        "rate": best["rate"],
        "kg_secs": best["kg_secs"],
        "n_triples": best["n_triples"],
        "gate_quantum": best.get("gate_quantum"),
        "best_leg_meter_during": during,
        "quantum_floor": QUANTUM_FLOOR,
        "all_rates": sorted((l["rate"] for l in legs), reverse=True),
    }


def ceiling() -> dict:
    recs = []
    best = {}
    for t in range(CEILING_TRIALS):
        for procs in (LO, HI):
            rec = {"trial": t, "procs": procs, "load_before": _load1()}
            t0 = time.perf_counter()
            with mp.Pool(procs) as pool:
                pool.starmap(_cpu_quantum, [()] * CEILING_UNITS)
            rec["secs"] = round(time.perf_counter() - t0, 3)
            rec["load_after"] = _load1()
            recs.append(rec)
            best[procs] = min(best.get(procs, rec["secs"]), rec["secs"])
            print(json.dumps(rec), file=sys.stderr, flush=True)
    speedup = best[LO] / best[HI]
    return {
        "lo": LO, "hi": HI, "units": CEILING_UNITS,
        "secs_lo": best[LO], "secs_hi": best[HI],
        "ceiling_speedup": round(speedup, 3),
        "ceiling_efficiency": round(speedup / (HI / LO), 3),
        "trials": recs,
    }


def main(argv: list) -> None:
    cmd = argv[0] if argv else "watch"
    if cmd == "watch" and len(argv) <= 1:
        watch()
    elif cmd == "summarize" and len(argv) in (2, 3):
        text = json.dumps(summarize(argv[1]), indent=1)
        if len(argv) == 3:
            with open(argv[2], "w") as f:
                f.write(text + "\n")
        print(text)
    elif cmd == "ceiling" and len(argv) == 1:
        print(json.dumps(ceiling()))
    else:
        raise SystemExit("\n\n".join(__doc__.split("\n\n")[1:3]))


if __name__ == "__main__":
    main(sys.argv[1:])
