#!/usr/bin/env python3
"""graft benchmark: one command for every workload or a named one.

    python3 perfbench/run.py --workload signals --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Per run it builds graft and the driver if stale (perfbench/build.py),
generates the workload's inputs from the seed (perfbench/gen.py), runs
TRIALS driver JVMs (one when traced) one after another at local[nproc]
(perfbench/src), checks the outputs against their DuckDB oracles and
prints every metric by name with its unit. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics`; the line before it is a summary under
500 characters. With `--trace 0` the metrics are the end-to-end ones, with
`--trace 1` the per-layer ones (see README.md). Everything it writes goes
under .bench_build/ in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["signals", "corpus"]
LAYERS = ["core", "dsp", "instants", "tubes", "plots", "analysis", "events", "graph",
          "llm", "streaming", "sources"]
WRITING = {"core", "streaming", "sources"}
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
# An untraced run is TRIALS driver JVMs; metrics are medians over all of
# them. Speed differs between JVMs of the same code far more than between
# passes of one JVM (JIT and the shared machine), so several short JVMs
# measure steadier than one long one. A traced run is one JVM: per-layer
# metrics carry no bound, and its tracing overhead compares passes inside
# that JVM.
TRIALS = 2
JVM_TIMEOUT_S = 90
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

E2E_UNITS = {"wall_s": "s", "cpu_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
LAYER_FIELDS = [("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                ("tasks", "count"), ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
                ("shuffle_write_bytes", "B"), ("spill_bytes", "B")]


def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def run_jvm(jar, workload, data, work, seconds, trace, check, dump=False):
    """One trial: a driver JVM; returns its raw result.

    Class sharing halves JVM and Spark start-up (class loading dominates
    it). With `dump` the JVM times nothing and records the classes it loads
    into the workload's archive; every timed trial maps that archive, so
    every trial starts the same way. It changes no compiled code."""
    cds = build.cds(workload)
    tmp = cds.with_suffix(".tmp")
    share = f"-XX:ArchiveClassesAtExit={tmp}" if dump else f"-XX:SharedArchiveFile={cds}"
    # a fixed set of compiler threads, whose CPU the driver subtracts
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
           share, f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-cp", f"{jar}{os.pathsep}{build.classpath()}", "graft.perfbench.Main",
            "--workload", workload, "--data", str(data), "--work", str(work),
            "--seconds", str(seconds), "--trace", str(int(trace)), "--check", str(int(check)),
            "--cpus", str(nproc())]
    (work / "tmp").mkdir(parents=True)
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: {workload} driver exceeded {JVM_TIMEOUT_S}s")
    if rc != 0 or not (work / "result.json").exists() or (dump and not tmp.exists()):
        sys.stderr.write((work / "jvm.log").read_text(errors="replace")[-3000:])
        raise SystemExit(f"perfbench: {workload} driver failed (rc {rc})")
    if dump:
        tmp.replace(cds)
    return json.loads((work / "result.json").read_text())


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _oracle_key(sql, data):
    """Cache key of an oracle result: the SQL and the content of every
    input column it can read. A column counts when its name occurs in the
    SQL; a natural join, a COLUMNS(...) expression or a star that does not
    qualify a CTE counts every column. Counting more columns than the query
    reads only costs cache misses. Keying on columns, not files, matters:
    the image-hash oracles read only `documents.doc_id`, the same for every
    seed, and take DuckDB 13-23 s to plan."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    low = sql.lower()
    ctes = set(re.findall(r"(\w+)\s*(?:\([\w\s,]*\))?\s+as\s*\(", low))
    stars = re.findall(r"(?:select\s+(?:distinct\s+)?|,\s*)(?:(\w+)\.)?\*", low)
    star = any(q not in ctes for q in stars) or re.search(r"\bnatural\b|\bcolumns\s*\(", low)
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        if not re.search(rf"\b{t}\b", low):
            continue
        path = data / f"{t}.parquet"
        names = pq.read_schema(path).names
        cols = names if star else [c for c in names if re.search(rf"\b{c.lower()}\b", low)]
        sink = pa.BufferOutputStream()
        table = pq.read_table(path, columns=cols).combine_chunks()
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        h.update(t.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def oracle_checks(data, work, names):
    """Compare each checked result with its DuckDB oracle over the same
    generated inputs, normalized as the graded compare does (columns by
    name, rows by every column, floats to 1e-9). Oracle results are cached
    by SQL and input content: some oracles take seconds to plan whatever
    the input size. Returns failure texts."""
    if not names:
        return []
    import duckdb
    import numpy as np
    import pandas as pd
    sql = json.loads((work / "oracle_sql.json").read_text())
    cache = build.BUILD / "oracle_cache"
    cache.mkdir(exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {nproc()}")
    con.execute(f"SET temp_directory = '{work / 'duck_spill'}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data / (t + '.parquet')}'")
    failures = []
    for name in names:
        try:
            files = sorted(glob.glob(str(work / "check" / name / "*.parquet")))
            got = _norm(pd.concat([pd.read_parquet(f) for f in files]))
            hit = cache / f"{_oracle_key(sql[name], data)}.parquet"
            if hit.exists():
                want = pd.read_parquet(hit)
            else:
                want = _norm(con.execute(sql[name]).fetchdf())
                want.to_parquet(hit)
        except Exception as e:  # a failing oracle is a failed check, not a crash
            failures.append(f"{name}: {str(e)[:200]}")
            continue
        if list(got.columns) != list(want.columns):
            failures.append(f"{name}: columns {list(got.columns)} vs oracle {list(want.columns)}")
            continue
        if len(got) != len(want):
            failures.append(f"{name}: {len(got)} rows vs oracle {len(want)}")
            continue
        for c in got.columns:
            a, b = got[c], want[c]
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                aa, bb = a.astype(float), b.astype(float)
                bad = ~(np.isclose(aa, bb, rtol=0, atol=1e-9) | (aa.isna() & bb.isna()))
            else:
                bad = ~((a == b) | (a.isna() & b.isna()))
            if bad.any():
                i = bad.idxmax()
                failures.append(f"{name}: column {c} row {i}: {a[i]!r} vs oracle {b[i]!r}")
                break
    return failures


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def reduce(trials, oracle_failures, n_oracle, trace):
    """Metrics from the trials' raw samples (definitions in README.md)."""
    samples = [s for r in trials for s in r["samples"]]
    passes = [p for r in trials for p in r["passes"]]
    untraced = [s for s in samples if not s["traced"]]
    by_op = {}
    for s in untraced:
        by_op.setdefault(s["op"], []).append(s)
    ops = trials[0]["ops"]
    errors = [e for r in trials for e in r["errors"]]
    attempted = len(samples) + n_oracle
    failed = sum(1 for s in samples if not s["ok"]) + len(oracle_failures) + \
        sum(1 for e in errors if "(warm-up)" in e or "(check)" in e)
    info = {"oracle_checks": n_oracle, "ops_timed": len(samples), "passes": len(passes),
            "failed_ops_frac": failed / attempted, "errors": (errors + oracle_failures)[:8]}
    if not trace:
        metrics = {
            # one pass, every operation at its median over all trials
            "wall_s": sum(_median([s["wall"] for s in by_op.get(op, [])]) for op in ops),
            "cpu_s": sum(_median([s["cpu"] for s in by_op.get(op, [])]) for op in ops),
            "setup_s": _median([r["setup_s"] for r in trials]),
            "peak_rss_mb": _median([r["peak_rss_mb"] for r in trials]),
        }
        return metrics, E2E_UNITS, attempted, failed, info
    traced = [s for s in samples if s["traced"]]
    n_traced = max(1, sum(1 for p in passes if p["traced"]))
    counts = {}
    for r in trials:
        for layer, m in r["layer_counts"].items():
            for k, v in m.items():
                counts.setdefault(layer, {}).setdefault(k, 0.0)
                counts[layer][k] += v
    metrics, units = {}, {}
    for layer in LAYERS:
        mine = [s for s in traced if s["layer"] == layer]
        for f, unit in LAYER_FIELDS + ([("output_bytes", "B")] if layer in WRITING else []):
            if f in ("build_s", "plan_s", "exec_s"):
                v = sum(s[f[:-2]] for s in mine)
            else:
                v = counts.get(layer, {}).get(f, 0.0)
            metrics[f"{layer}.{f}"] = v / n_traced  # per traced pass
            units[f"{layer}.{f}"] = unit
    tw = _median([p["wall"] for p in passes if p["traced"]])
    uw = _median([p["wall"] for p in passes if not p["traced"]])
    metrics["trace.overhead_frac"] = tw / uw - 1 if uw else 0.0
    units["trace.overhead_frac"] = "ratio"
    metrics["checks"] = float(n_oracle)
    units["checks"] = "count"
    return metrics, units, attempted, failed, info


def run_one(workload, seed, seconds, trace, jar, digest):
    t0 = time.time()
    data = build.BUILD / "data" / f"{workload}-{seed}"
    if not (data / "lineitem.parquet").exists():
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(workload, seed, str(data))
    runs = build.BUILD / "runs"
    if not build.cds(workload).exists():
        work = runs / f"{workload}-dump"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        run_jvm(jar, workload, data, work, 0, False, False, dump=True)
    trials = []
    for i in range(1 if trace else TRIALS):
        work = runs / f"{workload}-{seed}-t{int(trace)}-{i}"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        trials.append(run_jvm(jar, workload, data, work, seconds / TRIALS, trace, i == 0))
    t1 = time.time()
    first = build.BUILD / "runs" / f"{workload}-{seed}-t{int(trace)}-0"
    oracle_names = list(json.loads((first / "oracle_sql.json").read_text()))
    oracle_failures = oracle_checks(data, first, oracle_names)
    print(f"{workload} timing: inputs and drivers {t1 - t0:.1f}s, oracles {time.time() - t1:.1f}s",
          file=sys.stderr)
    metrics, units, attempted, failed, info = reduce(trials, oracle_failures, len(oracle_names), trace)
    for k, v in metrics.items():
        print(f"{workload} {k} = {v:.6g} {units[k]}")
    print(f"{workload} failed_ops_frac = {info['failed_ops_frac']:.6g} ratio "
          f"({failed}/{attempted}; {info['oracle_checks']} oracle checks; "
          f"{info['ops_timed']} timed ops in {info['passes']} passes over {len(trials)} JVMs)")
    print(f"{workload} inputs: " + ", ".join(f"{k}={v}" for k, v in gen.shapes(workload).items()))
    for e in info["errors"]:
        print(f"{workload} FAILED {e}")
    summary = {"workload": workload, "seed": seed, "cpus": nproc(), "spark": trials[0]["spark"],
               "commit": commit(digest), "trace": int(trace), "failed": failed,
               "attempted": attempted, "checks": len(oracle_names)}
    if not trace:
        summary.update({k: round(v, 4) for k, v in metrics.items()})
    return metrics, units, attempted, failed, summary


def commit(digest):
    try:
        out = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=build.ROOT,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except OSError:
        pass
    return "src-" + digest[:10]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    jar, digest = build.build()
    names = WORKLOADS if args.workload == "all" else [args.workload]
    all_metrics, attempted, failed, summaries = {}, 0, 0, []
    for w in names:
        metrics, units, a, f, summary = run_one(w, args.seed, args.seconds, bool(args.trace),
                                                jar, digest)
        prefix = "" if len(names) == 1 else f"{w}."
        for k, v in metrics.items():
            all_metrics[prefix + k] = {"value": v, "unit": units[k]}
        attempted += a
        failed += f
        summaries.append(summary)
    line = summaries[0] if len(names) == 1 else {
        "workloads": names, "seed": args.seed, "cpus": nproc(), "spark": summaries[0]["spark"],
        "commit": summaries[0]["commit"], "failed": failed, "attempted": attempted}
    print(json.dumps(line, separators=(",", ":"))[:499])
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": all_metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
