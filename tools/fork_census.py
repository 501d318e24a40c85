#!/usr/bin/env python3
"""Count the OS processes one benchmark run forks, by command, by the engine
or Spark frame that started each, and by the directory each one touched.

    python3 tools/fork_census.py --workload warehouse_sql --seed 2
    python3 tools/fork_census.py --workload catalog_ops --seed 2 --checkout PARENT_DIR

It runs `python3 perfbench/run.py --workload W --seed S --seconds 20 --trace 0`
in the checkout (default: the one this script is in) with JAVA_TOOL_OPTIONS
asking every JVM for a JFR recording, written at exit into a fresh temp dir,
so perfbench itself is unchanged. The benchmark JVM's recording is the one
whose java arguments start with `perfbench.Harness`; the recording of an sbt
build, when the run had to compile, is skipped. Its `jdk.ProcessStart`
events are read with `jfr print`.

Without the native Hadoop library, Hadoop's local file system forks `chmod`
for each permission it sets, `ls -ld` for each permission it reads and
`readlink` for each `FileContext` rename: a few ms each. The frame column is
the fork's nearest `graft.` or `org.apache.spark.` frame, which names the
engine or Spark call that asked for it. The path column is the first
absolute path in the command, cut to the directory under the spool root
(`graft_spool`) or the run's work dir, with digits replaced by N.

The run's JVM is slowed by the recording, so its timings are not the
benchmark's. It writes nothing outside the temp dir, which it removes, and
what run.py writes itself.
"""
import argparse
import collections
import os
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FRAME = re.compile(r"^\s+((?:graft|org\.apache\.spark)\.[\w.$]+)\(")


def events(jfr, path, name):
    """The events of type `name` in one recording, each as its `jfr print`
    text lines."""
    out = subprocess.run([jfr, "print", "--stack-depth", "128", "--events", name, path],
                         stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, check=True).stdout
    block, blocks = [], []
    for line in out.splitlines():
        if line.startswith(name + " {"):
            block = []
        elif line == "}":
            blocks.append(block)
        else:
            block.append(line)
    return blocks


def field(block, key):
    for line in block:
        s = line.strip()
        if s.startswith(key + " = "):
            v = s[len(key) + 3:]
            return v[1:-1] if v.startswith('"') and v.endswith('"') else v
    return ""


def place(command):
    for tok in command.split()[1:]:
        if not tok.startswith("/"):
            continue
        parts = tok.split("/")
        for anchor in ("graft_spool", ".work"):
            if anchor in parts:
                i = parts.index(anchor)
                rest = parts[i + 1:i + 3] if anchor == ".work" else parts[i + 1:i + 2]
                return re.sub(r"\d+", "N", "/".join([anchor] + rest))
        return re.sub(r"\d+", "N", "/".join(parts[:3]) or "/")
    return "-"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--checkout", default=ROOT)
    ap.add_argument("--examples", type=int, default=0, metavar="N",
                    help="also print one fork's command and top N frames per command and frame")
    a = ap.parse_args()
    jfr = shutil.which("jfr") or os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "jfr")

    rec_dir = tempfile.mkdtemp(prefix="fork_census_")
    try:
        env = dict(os.environ)
        env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") +
                                    f" -XX:StartFlightRecording=filename={rec_dir},dumponexit=true"
                                    " -XX:FlightRecorderOptions=stackdepth=128").strip()
        cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", "20", "--trace", "0"]
        proc = subprocess.run(cmd, cwd=a.checkout, env=env, stdout=subprocess.PIPE,
                              stderr=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
            sys.stderr.write(proc.stderr[-3000:])
            raise SystemExit(f"fork_census: run failed (exit {proc.returncode})")
        harness = [os.path.join(rec_dir, f) for f in sorted(os.listdir(rec_dir))
                   if f.endswith(".jfr") and any(
                       field(b, "javaArguments").startswith("perfbench.Harness")
                       for b in events(jfr, os.path.join(rec_dir, f), "jdk.JVMInformation"))]
        if len(harness) != 1:
            raise SystemExit(f"fork_census: expected one benchmark recording, found {len(harness)}")
        forks = events(jfr, harness[0], "jdk.ProcessStart")
    finally:
        shutil.rmtree(rec_dir, ignore_errors=True)

    by_cmd, by_frame, by_place = collections.Counter(), collections.Counter(), collections.Counter()
    example = {}
    for b in forks:
        command = field(b, "command")
        word = os.path.basename(command.split()[0]) if command else "?"
        frame = next((m.group(1) for m in map(FRAME.match, b) if m), "-")
        by_cmd[word] += 1
        by_frame[(word, frame)] += 1
        stack = [l.strip() for l in b if l.startswith("    ")]
        example.setdefault((word, frame), (command, stack))
        by_place[(word, place(command))] += 1

    print(f"# {a.workload} seed={a.seed} checkout={os.path.abspath(a.checkout)}: "
          f"{len(forks)} forks; run: {lines[-1][:120]}")
    print("# by command")
    for word, n in by_cmd.most_common():
        print(f"{n:7d}  {word}")
    print("# by command and first engine or Spark frame")
    for (word, frame), n in by_frame.most_common():
        print(f"{n:7d}  {word:10s} {frame}")
    print("# by command and path")
    for (word, where), n in by_place.most_common():
        print(f"{n:7d}  {word:10s} {where}")
    if a.examples:
        for (word, frame), _ in by_frame.most_common():
            command, stack = example[(word, frame)]
            print(f"# example: {word} at {frame}\n  command = {command}")
            for line in stack[:a.examples]:
                print(f"    {line}")


if __name__ == "__main__":
    main()
