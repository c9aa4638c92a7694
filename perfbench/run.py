#!/usr/bin/env python3
"""Benchmark harness for graft: one workload, one seed, one JSON result.

Usage (from the repository root):

    python3 perfbench/run.py --workload pipeline|cdc_live \
        --seed N --seconds S --trace 0|1

Builds the program (`sbt compile` at the root) and the harness
(`perfbench/`, its own sbt build) when their sources changed, generates the
workload's inputs from the seed, runs the workload in one JVM at
`local[4]`, checks the outputs, and prints one JSON object as the last line
of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are BENCHMARK.json's end-to-end metrics, with
`--trace 1` its per-layer metrics. Every run leaves its full record under
`perfbench/out/records/`; a traced run adds its span file and a per-layer
table of self times. Everything the run writes stays under `perfbench/out/`.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / "out"
CPUS = 4
HEAP = "3g"
# a fixed young generation: the collector runs every 256 MB of allocation in
# every run, so `peak_heap_mb` sees the heap an operation holds mid-flight
YOUNG = "256m"
SF = 0.01            # input scale of the query suites (60k lineitem rows)
JVM_TIMEOUT = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution: set SPARK_HOME")
    return Path(home) / "jars"


_child = None


def _stop_child(signum, _frame):
    """On SIGTERM/SIGINT, take the running child's process group down too."""
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(128 + signum)


def run_logged(cmd, cwd, timeout, env=None, log_file=None):
    """Run cmd in its own process group; kill the group on timeout."""
    global _child
    with open(log_file, "w") as lf:
        _child = p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=lf,
                                      stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            _child = None


def tail(path, n=30):
    try:
        return "\n".join(Path(path).read_text(errors="replace").splitlines()[-n:])
    except OSError:
        return ""


# ---------------------------------------------------------------- build

def source_files():
    files = [ROOT / "build.sbt", BENCH / "build.sbt",
             BENCH / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.sbt"))
    files += sorted((ROOT / "project").glob("*.properties"))
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"program sources not found under {ROOT}", 2)
    stamp = OUT / "build.stamp"
    fp = fingerprint()
    classes = [ROOT / "target" / "scala-2.13" / "classes",
               BENCH / "target" / "scala-2.13" / "classes"]
    if stamp.is_file() and stamp.read_text() == fp and all(c.is_dir() for c in classes):
        return fp
    OUT.mkdir(parents=True, exist_ok=True)
    stamp.unlink(missing_ok=True)
    (OUT / "tmp").mkdir(exist_ok=True)
    sbt = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Djava.io.tmpdir={OUT / 'tmp'}", "-J-XX:-UsePerfData", "compile"]
    for cwd, name in ((ROOT, "program"), (BENCH, "harness")):
        t0 = time.time()
        rc = run_logged(sbt, cwd, 800, log_file=OUT / f"build-{name}.log")
        if rc != 0:
            fail(f"{name} build failed (rc={rc}):\n{tail(OUT / f'build-{name}.log')}")
        log(f"built {name} in {time.time() - t0:.0f} s")
    stamp.write_text(fp)
    return fp


def classpath():
    return os.pathsep.join([
        str(ROOT / "target" / "scala-2.13" / "classes"),
        str(ROOT / "src" / "main" / "resources"),
        str(BENCH / "target" / "scala-2.13" / "classes"),
        str(spark_jars() / "*"),
    ])


def java_cmd(main, args, scratch):
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    # the root build's forked-run options, fixed heap and young-generation
    # sizes, and no hsperfdata
    # file outside the checkout
    opts += [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
        "-Dspark.sql.codegen.cache.maxEntries=5000", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-XX:-UsePerfData",
        f"-Dspark.local.dir={scratch / 'spark-local'}",
        f"-Djava.io.tmpdir={scratch / 'tmp'}",
    ]
    (scratch / "tmp").mkdir(parents=True, exist_ok=True)
    return ["java", *opts, "-cp", classpath(), main, *args]


# ---------------------------------------------------------------- checks

def oracle_compare(data, dump, names):
    """Strict DuckDB-oracle compare (tools/compare.py) of the results the
    harness dumped for `names`. Returns {name: failure line}."""
    cmp_log = dump.parent / "compare.log"
    rc = run_logged([sys.executable, str(ROOT / "tools" / "compare.py"), str(data), str(dump)],
                    ROOT, 90, log_file=cmp_log)
    passed, failures = set(), {}
    for line in Path(cmp_log).read_text(errors="replace").splitlines():
        word, _, rest = line.partition(" ")
        name = rest.split(":")[0].split(" ")[0]
        if word == "PASS":
            passed.add(name)
        elif name in names:
            failures[name] = line
    for n in names:
        if n not in passed and n not in failures:
            failures[n] = f"no compare result (compare rc={rc}): {tail(cmp_log, 5)}"
    return failures


def lev_le1(a, b):
    """Whether the Levenshtein distance of a and b is at most 1."""
    if a == b:
        return True
    if abs(len(a) - len(b)) > 1:
        return False
    if len(a) == len(b):
        return sum(x != y for x, y in zip(a, b)) == 1
    if len(a) > len(b):
        a, b = b, a
    i = next((k for k in range(len(a)) if a[k] != b[k]), len(a))
    return a[i:] == b[i + 1:]


def expected_er_clusters(data):
    """q_er_clusters recomputed here: customers whose names are within edit
    distance 1 are linked, and each connected component of two or more
    records is one entity, named by its smallest custkey. Rows are
    (entity_id, c_custkey, c_name, n_members)."""
    import pyarrow.parquet as pq
    t = pq.read_table(data / "customer.parquet", columns=["c_custkey", "c_name"]).to_pydict()
    names = dict(zip(t["c_custkey"], t["c_name"]))
    # candidates share a single-deletion variant (or the name itself)
    buckets = {}
    for k, n in names.items():
        for v in {n} | {n[:i] + n[i + 1:] for i in range(len(n))}:
            buckets.setdefault(v, set()).add(k)
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x
    linked = set()
    for ks in buckets.values():
        ks = sorted(ks)
        for i, a in enumerate(ks):
            for b in ks[i + 1:]:
                if lev_le1(names[a], names[b]):
                    linked.update((a, b))
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    members = {}
    for k in linked:
        members.setdefault(find(k), []).append(k)
    return {(min(ks), k, names[k], len(ks)) for ks in members.values() for k in ks}


def result_rows(dump, name, cols):
    """Rows of a dumped query result as a set of tuples, or None when the
    query threw (its dump is an `__graft_error` row)."""
    import pyarrow.parquet as pq
    t = pq.read_table(dump / name)
    if "__graft_error" in t.column_names:
        return None
    d = t.select(cols).to_pydict()
    return set(zip(*(d[c] for c in cols)))


def harness_checks(data, dump):
    """Checks the DuckDB oracle cannot make. Returns {check: failure}."""
    failures = {}
    planted = json.loads((data / "planted.json").read_text())["near_dup_pairs"]
    got = result_rows(dump, "q_dedup_minhash_lsh", ["doc_a", "doc_b"])
    missing = [p for p in planted if got is None or tuple(p) not in got]
    if missing:
        failures["q_dedup_minhash_lsh.planted_pairs"] = (
            f"{len(missing)} of {len(planted)} planted near-duplicate pairs missing, "
            f"e.g. {missing[:5]}")
    want = expected_er_clusters(data)
    got = result_rows(dump, "q_er_clusters", ["entity_id", "c_custkey", "c_name", "n_members"])
    if got != want:
        failures["q_er_clusters.recomputed"] = (
            "query threw" if got is None else
            f"{len(want - got)} expected rows missing, {len(got - want)} unexpected, "
            f"of {len(want)}")
    return failures


# ---------------------------------------------------------------- traced-run table

def layer_table(record, untraced):
    """The traced run's per-layer self times, and its tracing overhead
    against the untraced record of the same workload and seed."""
    lines = [f"{record['workload']} seed {record['seed']}: self time per span, "
             f"per timed pass ({len(record['passes'])} passes)",
             f"{'span':<24}{'count':>8}{'total_ms':>12}{'self_ms':>12}"]
    for r in record["span_table"]:
        lines.append(f"{r['span']:<24}{r['count']:>8.1f}{r['total_ms']:>12.1f}{r['self_ms']:>12.1f}")
    per_query = record["details"].get("per_query") or []
    if per_query:
        lines.append("")
        lines.append(f"{'query':<24}{'wall_s':>8}{'build_s':>9}{'exec_s':>8}{'jobs':>7}"
                     f"{'busy_s':>8}{'core_util':>10}")
        for q in per_query:
            lines.append(f"{q['query']:<24}{q['wall_s']:>8.3f}{q['build_self_s']:>9.3f}"
                         f"{q['exec_self_s']:>8.3f}{q['jobs']:>7.1f}{q['task_busy_s']:>8.3f}"
                         f"{q['core_util']:>10.3f}")
        lines.append("(build_s/exec_s: driver self time of the build and the noop write; "
                     "busy_s: Spark task time; core_util: busy_s / (wall_s x 4))")
    traced = record["end_to_end"]["suite_s"]
    over = None
    if untraced:
        base = untraced["end_to_end"]["suite_s"]
        over = traced / base - 1
        lines.append(f"tracing overhead: suite_s {traced:.3f} s traced vs {base:.3f} s "
                     f"untraced (same seed) = {over * 100:+.1f}%")
    else:
        lines.append(f"tracing overhead: no untraced record for seed {record['seed']} yet "
                     f"(traced suite_s {traced:.3f} s)")
    lines.append(f"attributed to spans: {record['per_layer']['trace.attributed_frac'] * 100:.1f}% "
                 "of the least-covered timed pass")
    return "\n".join(lines) + "\n", over


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["pipeline", "cdc_live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_child)
    signal.signal(signal.SIGINT, _stop_child)
    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("BENCHMARK.json not found at the repository root", 2)
    spec = json.loads(spec_file.read_text())

    load_start = os.getloadavg()[0]
    t_start = time.time()
    fp = build()
    run_dir = OUT / "runs" / f"{a.workload}-{a.seed}-t{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = run_dir / "data", run_dir / "work"
    work.mkdir(parents=True)
    records = OUT / "records" / a.workload
    records.mkdir(parents=True, exist_ok=True)
    rec_file = records / f"seed{a.seed}.trace{a.trace}.json"
    rec_file.unlink(missing_ok=True)

    gen_s = 0.0
    if a.workload != "cdc_live":
        t0 = time.time()
        rc = run_logged([sys.executable, str(BENCH / "gen_data.py"), "--seed", str(a.seed),
                         "--sf", str(SF), "--out", str(data)], ROOT, 120,
                        log_file=run_dir / "gen.log")
        if rc != 0:
            fail(f"input generation failed (rc={rc}):\n{tail(run_dir / 'gen.log')}")
        gen_s = time.time() - t0
    rc = run_logged(java_cmd("perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", str(data), "--work", str(work),
        "--out", str(rec_file), "--check", str(run_dir / "check")], run_dir),
        work, JVM_TIMEOUT, log_file=run_dir / "harness.log")
    log(f"harness JVM done at {time.time() - t_start:.1f} s")
    if rc != 0 or not rec_file.is_file():
        fail(f"harness JVM failed (rc={rc}):\n{tail(run_dir / 'harness.log')}")
    rec = json.loads(rec_file.read_text())
    rec["end_to_end"]["setup_s"] += gen_s

    correct = rec["failed"] == 0
    checks = {}
    if a.workload != "cdc_live":
        names = rec["details"]["oracle_checked"]
        failures = oracle_compare(data, run_dir / "check", names)
        failures.update(harness_checks(data, run_dir / "check"))
        log(f"output checks done at {time.time() - t_start:.1f} s")
        checks = {"oracle_checked": names, "harness_checked": [
            "q_dedup_minhash_lsh.planted_pairs", "q_er_clusters.recomputed"],
            "failures": failures}
        correct = correct and not failures
        if failures:
            log("output check failures:", json.dumps(failures, indent=1))
    elif not correct:
        log("CDC output checks failed:", json.dumps({
            k: rec["details"][k] for k in ("read_after_write_mismatches", "final_state_mismatches")}))

    rec["checks"] = checks
    rec["env"].update({
        "nproc_host": len(os.sched_getaffinity(0)),
        "loadavg_start_host": load_start,
        "loadavg_end_host": os.getloadavg()[0],
        "source_fingerprint": fp,
        "commit": git_head() or "unknown",
        "seed": a.seed,
        "seconds": a.seconds,
    })
    if a.trace:
        untraced_file = records / f"seed{a.seed}.trace0.json"
        untraced = json.loads(untraced_file.read_text()) if untraced_file.is_file() else None
        table, over = layer_table(rec, untraced)
        rec["tracing_overhead"] = over
        (records / f"seed{a.seed}.layers.txt").write_text(table)
        log("\n" + table)
    rec_file.write_text(json.dumps(rec, indent=1))

    section = "per_layer" if a.trace else "end_to_end"
    measured = rec[section]
    metrics = {}
    for m in spec[section]:
        if m["name"] not in measured:
            fail(f"metric {m['name']} missing from the harness record")
        metrics[m["name"]] = {"value": measured[m["name"]], "unit": m["unit"]}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": bool(correct), "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))


def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
