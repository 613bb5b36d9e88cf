"""Time registered queries: build each one and write it to the noop sink.

Usage: python bench.py [--reps N] [--sf DIR ...] [QUERY ...]

Every pass builds each named query (every registered query when none is
named) with its ``query()`` call and writes it to the noop sink, so every
expression and shuffle runs and nothing comes back to the driver.
``--reps`` passes run (default 3).  A query's record holds the min of its
build times, of its exec (noop write) times and of their sums, and
``build_jobs``: the most Spark jobs one of its builds started (a build
should only plan; ``planshape.counted_build`` counts them).  Pass 1
runs cold and the min discards it.  A query whose two best totals differ
by more than 50% is re-run, at most twice, so that its min reflects
steady state rather than one contended pass.

``--sf`` defaults to $SPARK_GRAFT_SF_DIR, else the sf0.1 test data.

Outputs:
- stdout gets one JSON line per query, then one final JSON line with
  totals and counts only (a caller that keeps just the tail of stdout
  parses that last line);
- a run over the whole registry at one SF also writes
  ``BENCH_DETAIL.json`` and ends by running ``tools/snapshot_gate.py``,
  whose verdict goes into that file.  A contended window (median gap
  between the two best samples above 15%, a query with fewer than two
  samples, or a CPU steal share above 5% over the timed passes, read
  from /proc/stat as ``steal_share``) goes to
  ``BENCH_DETAIL_CONTENDED.json`` instead when the existing record is
  clean;
- a run over named queries writes no file, so A/B timing leaves the tree
  clean;
- with two or more ``--sf`` dirs, one child ``bench.py`` runs per dir,
  each in its own JVM (heavy probes sharing one JVM slow each other down
  through GC), and one entry goes into ``BENCH_SCALE.json``: the per-SF
  mins and one scaling exponent per adjacent step.  The step factor is
  the ratio of lineitem row counts, read from the parquet footers.

One failing query never zeroes the run: its error is recorded and
counted in ``n_errors``.  A query that returns while a Spark job is
still active counts as failed too, with the job ids in its error.

Shuffle and spill files go to the first SPARK_LOCAL_DIRS entry (else
/tmp).  One 256 MB write probe records that dir's throughput next to the
timings: a throttled disk inflates every shuffle-heavy time, and without
the number such drift looks like a plan regression.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from planning_center_data_pipeline_spark.planshape import counted_build  # noqa: E402

NOISY = 0.5  # two best totals further apart than this: re-run the query
CONTENDED = 0.15  # median two-best gap above this marks the window contended
STOLEN = 0.05  # CPU steal share above this over the timed passes does too


def disk_mb_s(path: str, size_mb: int = 256) -> float | None:
    """Buffered sequential-write throughput of `path` in MB/s."""
    try:
        os.makedirs(path, exist_ok=True)
        with tempfile.NamedTemporaryFile(dir=path) as f:
            buf = b"\0" * (1 << 20)
            t0 = time.perf_counter()
            for _ in range(size_mb):
                f.write(buf)
            f.flush()
            os.fsync(f.fileno())
            return round(size_mb / (time.perf_counter() - t0), 1)
    except OSError:
        return None


def cpu_times(stat: str | None = None) -> list[int] | None:
    """user .. steal jiffies from the aggregate `cpu` line of `stat` (the
    text of /proc/stat, read when not given); None where there is none."""
    try:
        text = Path("/proc/stat").read_text() if stat is None else stat
    except OSError:
        return None
    for line in text.splitlines():
        if line.startswith("cpu "):
            return [int(x) for x in line.split()[1:9]]
    return None


def steal_share(before: list[int] | None, after: list[int] | None) -> float | None:
    """Share of the CPU time between two `cpu_times` readings that the
    hypervisor gave to other guests (steal).  Sustained steal slows every
    pass alike, so the two-best gap cannot see it."""
    if before is None or after is None:
        return None
    total = sum(after) - sum(before)
    return round((after[7] - before[7]) / total, 4) if total > 0 else None


def active_jobs(spark, grace_s: float = 1.0) -> list[int]:
    """Ids of the Spark jobs still active.  The status tracker hears of a
    job's end through the asynchronous listener bus, so a job that ended
    a moment ago can still be listed; wait up to `grace_s` for the list
    to clear before reporting it."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + grace_s
    while True:
        ids = sorted(tracker.getActiveJobsIds())
        if not ids or time.monotonic() > deadline:
            return ids
        time.sleep(0.05)


def time_queries(spark, qs, sf_dir, names, reps, samples=None, errors=None):
    """Run `reps` passes over `names`, appending one (build, exec,
    build_jobs) sample per query and pass to `samples`.  A query that
    raises, or leaves a job active, moves to `errors` and is not run
    again."""
    samples = {} if samples is None else samples
    errors = {} if errors is None else errors
    for _ in range(reps):
        for name in names:
            if name in errors:
                continue
            try:
                t0 = time.perf_counter()
                df, jobs = counted_build(spark, lambda: qs[name](spark, sf_dir))
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                active = active_jobs(spark)
                if active:
                    raise RuntimeError(f"Spark jobs {active} still active after the query")
            except Exception as exc:
                errors[name] = f"{type(exc).__name__}: {exc}"[:400]
                samples.pop(name, None)
                print(f"# {name}: ERROR {errors[name]}", file=sys.stderr, flush=True)
                continue
            samples.setdefault(name, []).append((round(t1 - t0, 3), round(t2 - t1, 3), jobs))
            print(f"# {name}: build {t1 - t0:.3f}s ({jobs} jobs) exec {t2 - t1:.3f}s",
                  file=sys.stderr, flush=True)
    return samples, errors


def record(samples: list[tuple[float, float, int]]) -> dict:
    """One query's timing record from its (build, exec, build_jobs) samples."""
    totals = [round(b + e, 3) for b, e, _ in samples]
    return {
        "build": min(b for b, _, _ in samples),
        "exec": min(e for _, e, _ in samples),
        "total": min(totals),
        "build_jobs": max(j for _, _, j in samples),
        "samples": totals,
    }


def spread2(totals: list[float]) -> float:
    """Relative gap between the two smallest samples: the repeatability of
    the reported min, immune to one contended pass."""
    s = sorted(totals)[:2]
    return (s[1] - s[0]) / s[0] if len(s) > 1 and s[0] > 0 else 0.0


def median(values: list[float]) -> float | None:
    v = sorted(values)
    return round(v[len(v) // 2], 4) if v else None


def lineitem_rows(sf_dir: str) -> int:
    import pyarrow.dataset as ds

    return ds.dataset(f"{sf_dir}/lineitem.parquet", format="parquet").count_rows()


def scale_entry(mins: dict[str, dict[str, float]], rows: dict[str, int]) -> dict:
    """Per-query mins across an SF ladder and one exponent per adjacent
    step.  `mins` maps each SF (in ladder order) to {query: min seconds};
    `rows` maps each SF to its lineitem row count.  A step that multiplies
    the rows by f and the time by r has exponent log(r) / log(f): 1 is
    linear, below 1 fixed costs still dominate."""
    sfs = list(mins)
    factors = [rows[b] / rows[a] for a, b in zip(sfs, sfs[1:])]
    queries = {}
    for q in dict.fromkeys(q for m in mins.values() for q in m):
        ts = [mins[s].get(q) for s in sfs]
        exps = [
            round(math.log(b / a) / math.log(f), 2) if a and b else None
            for a, b, f in zip(ts, ts[1:], factors)
        ]
        queries[q] = {**dict(zip(sfs, ts)), "exponents": exps}
    return {"factors": [round(f, 3) for f in factors], "queries": queries}


def ladder(sf_dirs: list[str], reps: int, names: list[str]) -> None:
    """One child bench.py per SF dir, then one BENCH_SCALE.json entry."""
    names = names or sorted(entrymod.queries())
    runs, mins = {}, {}
    for sf_dir in sf_dirs:
        out = subprocess.run(
            [sys.executable, __file__, "--reps", str(reps), "--sf", sf_dir, *names],
            stdout=subprocess.PIPE, text=True, check=True,
        ).stdout
        lines = [json.loads(x) for x in out.splitlines() if x.startswith("{")]
        sf = Path(sf_dir).name
        runs[sf] = lines[-1]
        mins[sf] = {x["query"]: x["total"] for x in lines[:-1] if "total" in x}
    rows = {Path(d).name: lineitem_rows(d) for d in sf_dirs}
    cpus = next(iter(runs.values()))["cpus"]
    key = f"queries@c{cpus}_" + "-".join(rows)
    entry = {"cpus": cpus, "sf_dirs": sf_dirs, "lineitem_rows": rows,
             "runs": runs, **scale_entry(mins, rows)}
    path = REPO / "BENCH_SCALE.json"
    data = json.loads(path.read_text()) if path.exists() else {}
    data[key] = entry
    path.write_text(json.dumps(data, indent=1) + "\n")
    print(json.dumps({
        "entry": key,
        "n_queries": len(entry["queries"]),
        "n_errors": sum(r["n_errors"] for r in runs.values()),
        "totals": {sf: r["value"] for sf, r in runs.items()},
    }))


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="Time queries through the noop sink.")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf", action="append", metavar="DIR")
    ap.add_argument("queries", nargs="*", metavar="QUERY")
    args = ap.parse_args(argv)
    if args.reps < 1:
        ap.error("--reps must be at least 1")
    sf_dirs = args.sf or [os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")]
    if len(sf_dirs) > 1:
        return ladder(sf_dirs, args.reps, args.queries)
    sf_dir = sf_dirs[0]
    qs = entrymod.queries()
    unknown = [n for n in args.queries if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    names = args.queries or list(qs)

    local_dir = os.environ.get("SPARK_LOCAL_DIRS", "/tmp").split(",")[0]
    mb_s = disk_mb_s(local_dir)
    print(f"# shuffle dir {local_dir}: {mb_s} MB/s", file=sys.stderr)
    from planning_center_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="bench")
    cpus = spark.sparkContext.defaultParallelism
    cpu0 = cpu_times()
    samples, errors = time_queries(spark, qs, sf_dir, names, args.reps)
    for _ in range(2):
        noisy = [n for n, s in samples.items() if spread2(record(s)["samples"]) > NOISY]
        if not noisy:
            break
        time_queries(spark, qs, sf_dir, noisy, 1, samples, errors)
    steal = steal_share(cpu0, cpu_times())
    spark.stop()

    records = {n: record(s) for n, s in samples.items()}
    for name in names:
        line = {"query": name, **records[name]} if name in records else {
            "query": name, "error": errors[name]}
        print(json.dumps(line, separators=(",", ":")))
    noise_best2 = median([spread2(r["samples"]) for r in records.values()
                          if len(r["samples"]) > 1])
    noise_maxmin = median([(max(r["samples"]) - r["total"]) / r["total"]
                           for r in records.values()
                           if len(r["samples"]) > 1 and r["total"] > 0])
    min_samples = min((len(r["samples"]) for r in records.values()), default=0)
    contended = bool((noise_best2 or 0) > CONTENDED or min_samples < 2
                     or (steal or 0) > STOLEN)
    total = round(sum(r["total"] for r in records.values()), 3)
    summary = {
        "metric": "sum_query_seconds",
        "value": total,
        "unit": "sec",
        "build_s": round(sum(r["build"] for r in records.values()), 3),
        "exec_s": round(sum(r["exec"] for r in records.values()), 3),
        "n_queries": len(records),
        "n_errors": len(errors),
        "per_query": round(total / max(len(records), 1), 4),
        "noise_best2": noise_best2,
        "noise_maxmin": noise_maxmin,
        "min_samples_per_query": min_samples,
        "steal_share": steal,
        "contended": contended,
        "reps": args.reps,
        "cpus": cpus,
        "sf_dir": sf_dir,
        "shuffle_dir": local_dir,
        "disk_mb_s": mb_s,
    }
    if not args.queries:
        write_detail(summary, records, errors)
    print(json.dumps(summary, separators=(",", ":")))


def write_detail(summary: dict, records: dict, errors: dict) -> None:
    """BENCH_DETAIL.json, or BENCH_DETAIL_CONTENDED.json when this window
    is contended and the existing record is clean; then the snapshot
    gate's verdict on the tree, written into the same file.  A gate FAIL
    does not fail the bench: the numbers are still real."""
    detail = {
        **summary,
        "queries": {n: r["total"] for n, r in records.items()},
        "build": {n: r["build"] for n, r in records.items()},
        "exec": {n: r["exec"] for n, r in records.items()},
        "build_jobs": {n: r["build_jobs"] for n, r in records.items()},
        "samples": {n: r["samples"] for n, r in records.items()},
        "errors": errors,
    }
    path = REPO / "BENCH_DETAIL.json"
    if summary["contended"] and path.exists():
        try:
            prior_clean = not json.loads(path.read_text()).get("contended", False)
        except (OSError, ValueError):
            prior_clean = False
        if prior_clean:
            path = REPO / "BENCH_DETAIL_CONTENDED.json"
            print(f"# contended window: wrote {path.name}; the clean "
                  "BENCH_DETAIL.json stands", file=sys.stderr)
    path.write_text(json.dumps(detail, indent=1))
    gate = subprocess.run(
        [sys.executable, str(REPO / "tools" / "snapshot_gate.py")],
        capture_output=True, text=True,
    )
    detail["snapshot_gate"] = {
        "ok": gate.returncode == 0,
        "report": gate.stdout.strip().splitlines(),
    }
    path.write_text(json.dumps(detail, indent=1))
    print(f"# snapshot gate: {gate.stdout.strip()}", file=sys.stderr)


if __name__ == "__main__":
    main()
