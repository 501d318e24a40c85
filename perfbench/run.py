#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line.

Run from the repository root:

    python3 perfbench/run.py --workload warehouse_sql --seed 1 --seconds 20 --trace 0

The first run builds the engine and the harness (perfbench/build.sbt) with
sbt; later runs reuse the build while the sources are unchanged. The run
starts one JVM (local[nproc]), which sets up, runs the seeded op stream and
writes its measurements; this script then checks the dumped results against
DuckDB, and prints the end-to-end metrics (--trace 0) or the per-layer
metrics (--trace 1) as the last line of stdout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
STATE = os.path.join(HERE, ".state")
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
# llm_pipeline is not in BENCHMARK.json (see README.md) but runs by hand
WORKLOADS = ("warehouse_sql", "catalog_ops", "llm_pipeline")
DEADLINE_S = 170  # a run, set-up included, ends within this
BUILD_DEADLINE_S = 700  # a first run in a fresh checkout also builds
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run a command in its own process group; kill the group on a timeout
    or when this script is stopped."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
            if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compile the engine and harness with sbt unless the sources are
    unchanged. Returns the classpath and whether it built."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    log("# building engine and harness with sbt")
    code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"], deadline - time.time(),
                          cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if os.path.join(HERE, "target") in l and ":" in l]
    if code != 0 or not lines:
        log(out[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip(), True


def oracle_failures(work, oracle):
    """Compare each dumped result with DuckDB on the same fixtures, with the
    rules of tools/self_check.py: same columns and rows, floats bit-exact,
    everything else equal as text."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(FIXTURES, t + ".parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for name, sql in sorted(oracle.items()):
        d = os.path.join(work, "dump", name)
        files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        got = pd.concat([pd.read_parquet(os.path.join(d, f)) for f in files]) \
            if files else pd.DataFrame()
        try:
            want = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            bad[name] = f"oracle error: {e}"
            continue
        if len(want) == 0:
            bad[name] = "vacuous: the oracle returns no rows"
            continue
        got = got.reindex(sorted(got.columns), axis=1).reset_index(drop=True)
        want = want.reindex(sorted(want.columns), axis=1).reset_index(drop=True)
        if list(got.columns) != list(want.columns):
            bad[name] = f"columns {list(got.columns)} vs {list(want.columns)}"
            continue
        if len(got) != len(want):
            bad[name] = f"rows {len(got)} vs {len(want)}"
            continue
        for c in got.columns:
            a, b = got[c], want[c]
            ak, bk = a.dtype.kind, b.dtype.kind
            if {ak, bk} <= set("if") and ak != bk:
                same = False
            elif ak == "f" or bk == "f":
                af, bf = a.astype(float), b.astype(float)
                same = bool(((a.isna() & b.isna()) | (af.values == bf.values)).all())
            else:
                same = bool((a.astype(str).fillna("<null>") ==
                             b.astype(str).fillna("<null>")).all())
            if not same:
                bad[name] = f"column {c} differs"
                break
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="write the result shapes seen into expected.json")
    a = ap.parse_args()
    start = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: engine sources not found; run from a repository checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    classpath, built = build(start + BUILD_DEADLINE_S)
    deadline = (time.time() if built else start) + DEADLINE_S

    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "expected.tsv"), "w") as f:
        for name, e in sorted(expected.items()):
            f.write(f"{name}\t{e['rows']}\t{','.join(e['columns'])}\n")
    cores = len(os.sched_getaffinity(0))
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        # a fixed heap with fixed generation sizes keeps peak RSS from
        # following the collector's resizing decisions
        "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
        f"-Dderby.stream.error.file={work}/derby.log", "-cp", classpath, "perfbench.Harness",
        a.workload, str(a.seed), str(a.seconds), str(a.trace), str(cores), FIXTURES, work,
        os.path.join(work, "expected.tsv")]
    try:
        code, _ = run_group(cmd, max(10.0, deadline - time.time()), cwd=work,
                            stdout=sys.stderr)
        if code != 0:
            raise SystemExit(f"perfbench: harness exited with {code}")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)

        failures = list(res["failures"])
        bad = oracle_failures(work, res["oracle"]) if res["oracle"] else {}
        failures += [f"{n}: {why}" for n, why in bad.items()]
        stream_ops = res["attempted"]
        failed = min(stream_ops, res["failed"] + sum(res["op_counts"].get(n, 0) for n in bad))
        if a.record_expected:
            with open(os.path.join(work, "observed.tsv")) as f:
                for line in f:
                    if line.strip():
                        n, r, c = line.rstrip("\n").split("\t", 2)
                        expected[n] = {"rows": int(r), "columns": c.split(",")}
            with open(os.path.join(HERE, "expected.json"), "w") as f:
                json.dump(expected, f, indent=1, sort_keys=True)
                f.write("\n")

        layers = res["per_layer"]
        e2e = res["end_to_end"]
        os.makedirs(STATE, exist_ok=True)
        # untraced wall_s per seed, for the tracing overhead of traced runs
        walls_path = os.path.join(STATE, f"wall-{a.workload}.json")
        walls = {}
        if os.path.exists(walls_path):
            with open(walls_path) as f:
                walls = json.load(f)
        if not a.trace:
            walls[str(a.seed)] = e2e["wall_s"]
            with open(walls_path, "w") as f:
                json.dump(walls, f)
        else:
            base = walls.get(str(a.seed), statistics.median(walls.values()) if walls else None)
            if base is None:
                print("# trace.overhead_s: no untraced run of this workload recorded, reported as 0")
            layers["trace.overhead_s"] = e2e["wall_s"] - base if base is not None else 0.0
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(STATE, f"spans-{a.workload}-{a.seed}.jsonl"))
            # counts that must repeat exactly across runs of one seed
            path = os.path.join(STATE, f"counts-{a.workload}-{a.seed}.json")
            mismatches = 0
            if os.path.exists(path):
                with open(path) as f:
                    before = json.load(f)
                for k, v in res["counts"].items():
                    if k in before and before[k] != v:
                        mismatches += 1
                        print(f"# repeat: {k} was {before[k]}, now {v} (seed {a.seed})")
            with open(path, "w") as f:
                json.dump(res["counts"], f)
            layers["repeat.mismatches"] = mismatches
            layers["ops.fail_ratio"] = failed / stream_ops

        for name, ms in res["op_ms"]:
            print(f"# op {name} {ms:.1f} ms")
        for n, calls, secs in res["discovery"]:
            print(f"# add_partitions: {n} partitions, {calls} hive client calls, {secs:.3f} s")
        for why in failures:
            print(f"# FAIL {why}")
        print(f"# {a.workload} seed={a.seed} passes={res['passes']} "
              f"ops={res['stream_ops']} fail_ratio={failed / stream_ops:.4f} "
              f"tail=p{res['tail_percentile']:g} (n={res['stream_ops']}) "
              f"host.foreign_core_s={layers['host.foreign_core_s']:.2f} "
              f"setup: {json.dumps(res['setup_parts'])}")
        section = spec["per_layer"] if a.trace else spec["end_to_end"]
        source = layers if a.trace else e2e
        metrics = {}
        for m in section:
            if m["name"] not in source:
                raise SystemExit(f"perfbench: metric {m['name']} was not measured")
            metrics[m["name"]] = {"value": source[m["name"]], "unit": m["unit"]}
        if not a.trace:
            for k, v in metrics.items():
                print(f"# {k} = {v['value']:.6g} {v['unit']}")
        print(json.dumps({"correct": not failures and failed == 0, "attempted": stream_ops,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
