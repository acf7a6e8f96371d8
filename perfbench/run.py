#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload per run, every answer checked.

Usage (from the repository root):
  python3 perfbench/run.py --workload cole_scan|cole_dml|spark_queries \
      --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source on first use (see
build.py), runs one JVM on Spark `local[<nproc>]`, prints every metric by
name and unit, and ends with one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
and writes a span file. Everything a run writes stays under
`$CARGO_TARGET_DIR` (default `.bench_build`) of the checkout; see
perfbench/README.md for the metrics and the workloads.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("cole_scan", "cole_dml", "spark_queries")
QUERY_KEYS = ["tpch_q1", "tpch_q3", "tpch_q5", "tpch_q18", "ann_bruteforce",
              "dedup_clusters", "events_funnel", "corpus_ngram_stats", "text_repetition"]
HEAP = "3g"
JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit: the module opens of the root build
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def git_commit(root):
    if not (root / ".git").exists():
        return None
    try:
        r = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def num(v):
    """A figure for printing; JSON null (no successful sample) reads nan."""
    return float("nan") if v is None else v


def run_jvm(cmd, env, timeout):
    """Run a child JVM to completion; kill and reap it on timeout."""
    p = subprocess.Popen(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise SystemExit(f"JVM exceeded {timeout} s and was stopped")
    except BaseException:
        p.kill()
        p.wait()
        raise


def oracle_answers(jvm, env, out, sf):
    """DuckDB's answers to the keys' oracle SQL. The SQL comes from the
    build; the answers are kept beside it, keyed by the SQL and the
    parquet files' sizes and times, so later runs reuse them.
    """
    sql = out / "oracle_sql.jsonl"
    if not sql.exists():
        if run_jvm(jvm + ["graftbench.OracleSql", str(sql)] + QUERY_KEYS, env, 60) != 0:
            raise SystemExit("could not list the oracle SQL")
    h = hashlib.sha256(sql.read_bytes())
    for p in sorted(sf.glob("*.parquet")):
        st = p.stat()
        h.update(f"{p.name} {st.st_size} {st.st_mtime_ns}".encode())
    answers = out.parent / "oracle" / f"{h.hexdigest()[:16]}.tsv"
    if not answers.exists():
        answers.parent.mkdir(parents=True, exist_ok=True)
        tmp = answers.with_suffix(f".{os.getpid()}.tmp")
        r = subprocess.run([sys.executable, str(BENCH / "oracle.py"), str(sql), str(sf),
                            str(tmp)], stdout=sys.stderr, stderr=sys.stderr, timeout=120)
        if r.returncode != 0:
            raise SystemExit("DuckDB oracle failed")
        tmp.replace(answers)
    return answers


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd().resolve()
    cp = build.build(root)
    out = build.out_dir(root)
    nproc = len(os.sched_getaffinity(0))
    sf = os.environ.get("GRAFTBENCH_SF_DIR", str(Path.home() / "testdata" / "sf0.1"))
    ref = root / "benchmark_data.col"
    for need in (Path(sf) / "lineitem.parquet", ref):
        if not need.exists():
            raise SystemExit(f"missing input {need}")

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = out.parent / "work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    results = out.parent / "results"
    results.mkdir(parents=True, exist_ok=True)
    result_file = results / f"{tag}.json"
    result_file.unlink(missing_ok=True)

    java = build.java()
    env = dict(os.environ)
    env["GRAFT_COLE_WAREHOUSE"] = str(work / "warehouse")
    env["SPARK_GRAFT_CPUS"] = str(nproc)
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    jvm = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xss4m"] + \
        [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + \
        ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
         f"-Djava.io.tmpdir={work / 'tmp'}",
         f"-Dspark.local.dir={work / 'spark-local'}",
         f"-Dspark.sql.warehouse.dir={work / 'spark-warehouse'}",
         f"-Dderby.system.home={work / 'derby'}",
         "-cp", cp]
    try:
        extra = []
        if args.workload == "spark_queries":
            extra = ["--oracle", str(oracle_answers(jvm, env, out, Path(sf)))]
        code = run_jvm(jvm + [
            "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--master", f"local[{nproc}]", "--work", str(work), "--out", str(result_file),
            "--sf", sf, "--ref", str(ref)] + extra,
            env, JVM_TIMEOUT_S)
        if code != 0 or not result_file.exists():
            raise SystemExit(f"benchmark JVM failed (exit code {code})")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res = json.loads(result_file.read_text())
    res["env"]["git_commit"] = git_commit(root)
    res["env"]["source_sha256"] = (out / "stamp").read_text()
    res["env"]["heap"] = HEAP
    result_file.write_text(json.dumps(res, indent=1) + "\n")

    e = res["env"]
    print(f"# {args.workload} seed={args.seed} trace={args.trace} master={e['master']} "
          f"nproc={e['nproc']} xmx={HEAP} jdk={e['jdk']} spark={e['spark']} "
          f"commit={e['git_commit'] or 'n/a'} sources={e['source_sha256'][:12]}")
    print(f"# window {res['window_s']:.2f} s, {res['window_rounds']} rounds, "
          f"{res['samples']} latency samples; set-ups "
          + ", ".join(f"{s:.2f}" for s in res["setup_runs_s"]) + " s")
    for name, m in sorted(res["end_to_end"].items()):
        print(f"end_to_end {name:<24} {num(m['value']):>14.4f} {m['unit']}")
    for name, m in sorted(res["per_layer"].items()):
        print(f"per_layer  {name:<28} {num(m['value']):>14.4f} {m['unit']}")
    for name, o in sorted(res["ops"].items()):
        print(f"op         {name:<24} n={o['n']:<4} failed={o['failed']:<3} "
              f"p50={num(o['p50_ms']):.1f} ms")
    for err in res["errors"]:
        print(f"error      {err}")
    if args.trace:
        print(f"# spans: {result_file.with_suffix('').as_posix()}.spans.jsonl")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
