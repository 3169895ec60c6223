#!/usr/bin/env python3
"""graft benchmark: three workloads against graft's public entry points.

usage: python3 perfbench/run.py --workload <bfs_crawl|corpus_ops>
           --seed <n> --seconds <s> --trace <0|1>

Builds the JVM side if a source changed (perfbench/build.py), runs one
workload in a fresh JVM on local[nproc], checks the outputs, prints the
workload's metrics by name, and prints one JSON object as the last line:
with --trace 0 the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics. Exits non-zero when an output check fails, and
without a result when the build or the run cannot happen.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import benchlib as bl
import build

ROOT = build.ROOT
BENCH = build.BENCH
DATA_DIR = BENCH / "data" / "sf0.01"
RUN_TIMEOUT_S = 170
WORKLOADS = ("bfs_crawl", "corpus_ops")
JDK_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classes, args, work, out, timeout_s):
    jars = build.spark_jars()
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = [build.java()]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # no hsperfdata file in the system temp dir: the run writes only here
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={BENCH / 'resources' / 'log4j2.properties'}",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{jars}/*", "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores()), "--work", str(work), "--out", str(out),
            "--data", str(DATA_DIR)]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(f"JVM run exceeded {timeout_s:.0f} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"JVM run exited with {proc.returncode}")
    with open(out, encoding="utf-8") as f:
        return json.load(f)


# --- output checks -----------------------------------------------------------


def check_crawl(raw, expected, ledger):
    for p in raw["passes"]:
        digests = {}
        if "order_file" in p:
            digests = {"order_digest": bl.file_digest(p["order_file"]),
                       "seen_digest": bl.file_digest(p["seen_file"])}
        attempted, failed, notes = bl.crawl_pass_failures(p, expected, digests)
        ledger.add(attempted, failed, "; ".join(notes) if failed else None)
    if "mega" in raw:
        check_wave(raw["mega"], expected["mega_wave"], ledger)


def check_wave(mega, expected, ledger):
    if mega["expected_pages"] != expected["fetched"]:
        ledger.notes.append(f"wave seeds {mega['expected_pages']} expected {expected['fetched']}")
    for leg in mega["legs"].values():
        for p in leg["passes"]:
            attempted, failed, notes = bl.crawl_pass_failures(p, expected)
            ledger.add(attempted, failed, "; ".join(notes) if failed else None)


def oracle_rows(con, sql, tables):
    """The oracle's rows, memoized under .bench_build by a hash of the SQL
    and the tables it reads: both are fixed, so later runs skip DuckDB."""
    import pandas as pd
    key = hashlib.sha256(sql.encode() + b"".join(tables)).hexdigest()
    cached = build.BUILD_DIR / "oracle" / f"{key}.pkl"
    if cached.is_file():
        return pd.read_pickle(cached)
    rows = con.sql(sql).df()
    cached.parent.mkdir(parents=True, exist_ok=True)
    tmp = cached.with_suffix(f".{os.getpid()}.tmp")
    rows.to_pickle(tmp)
    tmp.rename(cached)
    return rows


def check_ops(raw, expected, ledger):
    import duckdb
    import pandas as pd
    if raw["table_rows"] != expected["table_rows"]:
        ledger.notes.append(f"table rows {raw['table_rows']} expected {expected['table_rows']}")
    con = duckdb.connect()
    for t in raw["table_rows"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR / t}.parquet'")
    tables = sorted((DATA_DIR / f"{t}.parquet").read_bytes() for t in raw["table_rows"])
    for p in raw["passes"]:
        for leaf in p["leaves"]:
            name, reason = leaf["leaf"], leaf["error"]
            sql = raw["oracle_sql"].get(name, "")
            if reason is None and not sql:
                reason = "no oracle SQL"
            if reason is None:
                try:
                    expect = oracle_rows(con, sql, tables)
                    reason = bl.frame_mismatch(pd.read_parquet(leaf["output"]), expect)
                except Exception as e:  # noqa: BLE001 - any failure is a failed leaf
                    reason = f"compare failed: {e}"
            ledger.add(1, 1 if reason else 0, f"{name}: {reason}" if reason else None)


CHECKS = {"bfs_crawl": check_crawl, "corpus_ops": check_ops}


# --- metrics -----------------------------------------------------------------


def pass_units(workload, p):
    """(first output s, unit times) of one timed pass: crawl waves commit to
    commit, or query leaves."""
    if workload == "corpus_ops":
        return p["leaves"][0]["end_s"], [leaf["secs"] for leaf in p["leaves"]]
    ph = bl.crawl_phases(p["events"], p["wall_s"])
    return ph["first_commit_s"], ph["waves"]


def end_to_end(workload, raw):
    passes = raw["passes"]
    firsts, geos = zip(*((f, bl.geomean(u)) for f, u in (pass_units(workload, p) for p in passes)))
    return {
        "setup_s": (bl.median(raw["setup_s"]), "s"),
        "wall_s": (bl.median(p["wall_s"] for p in passes), "s"),
        "first_output_s": (bl.median(firsts), "s"),
        "unit_geomean_s": (bl.median(geos), "s"),
    }


def named_view(workload, raw, e2e, expected, ledger):
    """The workload's metrics under their own names (crawl_s, ops_s, ...),
    printed before the result line."""
    out = {"setup_s": e2e["setup_s"], "peak_heap_mb": (raw["peak_heap_mb"], "MB"),
           "error_rate": (ledger.error_rate, "ratio")}
    if workload == "bfs_crawl":
        out["crawl_s"] = e2e["wall_s"]
        out["first_commit_s"] = e2e["first_output_s"]
        out["crawl_pages_per_s"] = (expected["fetched"] / e2e["wall_s"][0], "1/s")
    else:
        out["ops_s"] = e2e["wall_s"]
        out["ops_geomean_s"] = e2e["unit_geomean_s"]
    return out


def stage_window(raw, p):
    start = p["start_s"]
    return [s for s in raw["stages"] if start <= s["end_s"] <= start + p["wall_s"]], \
        [j for j in raw["jobs"] if start <= j["end_s"] <= start + p["wall_s"]]


def per_layer(workload, raw, spec):
    """Per-layer metrics of a traced run; layers the workload does not
    exercise read 0."""
    m = {x["name"]: 0.0 for x in spec["per_layer"]}
    p = raw["passes"][0]
    stages, jobs = stage_window(raw, p)
    busy = sum(s["run_s"] for s in stages)
    untraced = bl.median(u["wall_s"] for u in raw["untraced"])
    skews = [max(s["task_s"]) / bl.median(s["task_s"]) for s in stages
             if len(s["task_s"]) >= raw["cores"] and bl.median(s["task_s"]) >= 0.01]
    m.update({
        "spark.jobs": len(jobs), "spark.stages": len(stages),
        "spark.tasks": sum(s["num_tasks"] for s in stages), "spark.task_busy_s": busy,
        "spark.busy_share": busy / (p["wall_s"] * raw["cores"]),
        "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spark.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "spark.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "spark.gc_s": raw["gc_s"], "spark.task_skew_max": max(skews, default=1.0),
        "jvm.peak_heap_mb": raw["trace_peak_heap_mb"],
        "setup.session_s": raw["session_s"], "setup.warmup_s": raw["warmup_s"],
        "trace.overhead_s": p["wall_s"] - untraced,
        "trace.overhead_share": (p["wall_s"] - untraced) / untraced,
    })
    m.update(raw["probes"])
    spans = list(raw["spans"])
    if workload == "corpus_ops":
        leaf_spans = {s["name"]: s for s in spans if s["name"].startswith("pipeline.")}
        for leaf in p["leaves"]:
            s = leaf_spans[f"pipeline.{leaf['leaf']}"]
            m[f"pipeline.{leaf['leaf']}_s"] = leaf["secs"]
            m[f"pipeline.{leaf['leaf']}.shuffle_bytes"] = sum(
                x["shuffle_write_bytes"] for x in stages if s["start_s"] <= x["end_s"] <= s["end_s"])
    else:
        run_span = next(s for s in spans if s["name"] == "crawl.run")
        ph = bl.crawl_phases(p["events"], p["wall_s"])
        t0 = run_span["start_s"]
        for phase, start, end in ph["intervals"]:
            spans.append({"id": len(spans), "name": f"crawl.phase.{phase}", "parent": run_span["id"],
                          "start_s": t0 + start, "end_s": t0 + end, "run_id": run_span["run_id"]})
        for phase in bl.PHASES:
            m[f"crawl.{phase}_s"] = ph["totals"][phase]
        m["crawl.frontier_wave_p50_s"] = bl.percentile(ph["frontier_per_wave"] or [0.0], 50)
        m["crawl.first_commit_s"] = ph["first_commit_s"]
        m.update({"crawl.waves": p["waves"], "crawl.pages": p["fetched"],
                  "crawl.fetch_errors": p["errors"], "crawl.parity_failures": p["parity_failures"]})
        for s in stages:
            phase = bl.phase_of(ph["intervals"], s["end_s"] - t0)
            if phase:
                m[f"crawl.{phase}.shuffle_bytes"] += s["shuffle_write_bytes"]
        for j in jobs:
            phase = bl.phase_of(ph["intervals"], j["end_s"] - t0)
            if phase:
                m[f"crawl.{phase}.jobs"] += 1
    if "mega" in raw:
        n, one = (bl.median(x["wall_s"] for x in raw["mega"]["legs"][k]["passes"]) for k in ("n", "1"))
        pages = raw["mega"]["expected_pages"]
        m.update({"mega.pages_per_s": pages / n, "mega.pages_per_s_1core": pages / one,
                  "mega.scale_eff": (one / n) / raw["cores"]})
    # listener jobs and stages join the span tree under the innermost span
    for kind, rows in (("job", raw["jobs"]), ("stage", raw["stages"])):
        for r in rows:
            ident = r["job_id"] if kind == "job" else f"{r['stage_id']}.{r['attempt']}"
            spans.append({"id": len(spans), "name": f"spark.{kind}.{ident}",
                          "parent": bl.innermost(spans, r["end_s"]), "start_s": r["start_s"],
                          "end_s": r["end_s"], "run_id": spans[0]["run_id"]})
    root = next(s for s in spans if s["name"] == f"workload.{workload}")
    for layer, secs in bl.self_times(spans, root["id"]).items():
        m[f"self.{layer}_s"] = secs
    unknown = sorted(set(m) - {x["name"] for x in spec["per_layer"]})
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
    units = {x["name"]: x["unit"] for x in spec["per_layer"]}
    return {k: (float(v), units[k]) for k, v in m.items()}, spans


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classes = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    expected = json.loads((BENCH / "expected.json").read_text())[args.workload]
    work = build.BUILD_DIR / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    t0 = time.monotonic()
    try:
        raw = run_jvm(classes, args, work, work / "raw.json", RUN_TIMEOUT_S)
        log(f"JVM {time.monotonic() - t0:.1f} s: session {raw['session_s']:.2f} s, "

            f"setup {[round(x, 2) for x in raw['setup_s']]} s, "
            f"passes {[round(p['wall_s'], 2) for p in raw['passes']]} s")
        ledger = bl.Ledger()
        CHECKS[args.workload](raw, expected, ledger)
        if args.trace:
            metrics, spans = per_layer(args.workload, raw, spec)
            trace_dir = build.BUILD_DIR / "trace"
            trace_dir.mkdir(exist_ok=True)
            (trace_dir / f"{args.workload}-seed{args.seed}.spans.json").write_text(json.dumps(spans))
        else:
            metrics = end_to_end(args.workload, raw)
            for name, (value, unit) in named_view(args.workload, raw, metrics, expected, ledger).items():
                print(f"{args.workload} {name} {value:.6g} {unit}")
    except Exception as e:  # noqa: BLE001 - reported, then no result line
        log(f"run failed: {type(e).__name__}: {e}")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.workload == "corpus_ops":
        log("leaves " + ", ".join(f"{x['leaf']} {x['secs']:.2f} s" for x in raw["passes"][0]["leaves"]))
    for note in ledger.notes:
        log(f"check failed: {note}")
    log(f"{args.workload}: {ledger.attempted} operations, {ledger.failed} failed, "
        f"{time.monotonic() - t0:.1f} s")
    print(json.dumps({
        "correct": ledger.correct, "attempted": ledger.attempted, "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if ledger.correct else 1


if __name__ == "__main__":
    sys.exit(main())
