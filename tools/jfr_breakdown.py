#!/usr/bin/env python3
"""Where the driver time of a perfbench run goes, from a JFR recording.

Record a run with the JVM's flight recorder (deep stacks, so the caller frame
of a sample is not cut off), then read the recording:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/fl.jfr,settings=profile,jdk.ExecutionSample#period=1ms \\
      -XX:FlightRecorderOptions=stackdepth=512" \\
      python3 perfbench/run.py --workload feature_lane --seed 2 --seconds 20 --trace 0
    python3 tools/jfr_breakdown.py /tmp/fl.jfr --caller graft.core.BucketedStore.lookup

It prints two tables:

- per operation (one per `--caller` frame, matched exactly against
  `class.method`), the `jdk.ExecutionSample`s of the `--thread` threads whose stack holds
  that frame, split into categories. A sample takes the first category, in
  the order listed, one of whose patterns occurs in a frame above the caller
  frame; the rest are `other`;
- the `jdk.ProcessStart` events (forks of `chmod`, `readlink`, ...) counted
  under each operation, then by command and by the innermost `graft.` or
  `perfbench.` frame that started them (else by thread).

The recording is streamed from the JDK's `jfr print` text form, one event at
a time, so a long recording reads in bounded memory (its `--json` form is
about a hundred times the recording's size).
"""
import argparse
import collections
import os
import subprocess
import sys

# the recorder's stackdepth in the usage above
STACK_DEPTH = 512

# (category, frame patterns): a pattern matches a substring of `class.method`
CATEGORIES = [
    ("hadoop-conf broadcast", ["SerializableConfiguration$.broadcast", "SparkContext.broadcast"]),
    ("hadoop-conf copy", ["Configuration.<init>", "Job.getInstance", "newHadoopConf"]),
    ("process start", ["ProcessBuilder.start", "org.apache.hadoop.util.Shell.run"]),
    ("fs listing", ["FileSystem.listStatus", "RawLocalFileSystem.listStatus"]),
    ("fs probe", ["FileSystem.exists", "getFileStatus", "FileSystem.isDirectory"]),
    ("fs create/rename/delete", ["FileSystem.create", "FileSystem.rename", "FileSystem.delete",
                                 "FileSystem.mkdirs"]),
    ("parquet footer", ["ParquetFooterReader", "ParquetFileReader.readFooter"]),
    ("parquet read", ["org.apache.parquet.hadoop.ParquetFileReader", "VectorizedParquetRecordReader",
                      "ParquetRecordReader", "buildReaderWithPartitionValues"]),
    ("parquet write", ["org.apache.parquet.hadoop.ParquetFileWriter", "InternalParquetRecordWriter",
                       "ParquetOutputWriter", "prepareWrite"]),
    ("spark job", ["SparkContext.runJob", "DAGScheduler"]),
    ("spark planning", ["QueryExecution", "catalyst.analysis", "catalyst.optimizer"]),
]


def events(path, kind):
    """Each `kind` event of the recording as (fields, frames, truncated):
    its one-line fields as raw text, its stack leaf first as `class.method`,
    and whether `jfr` cut the stack at `STACK_DEPTH`."""
    p = subprocess.Popen(["jfr", "print", "--stack-depth", str(STACK_DEPTH), "--events", kind, path],
                         stdout=subprocess.PIPE, text=True)
    fields, frames, cut, in_stack = {}, [], False, False
    for line in p.stdout:
        s = line.strip()
        if in_stack:
            if s == "]":
                in_stack = False
            elif s == "...":
                cut = True
            else:
                frames.append(s.split("(", 1)[0])
        elif line.startswith("}"):
            yield fields, frames, cut
        elif not line.startswith(" ") and s.endswith("{"):
            fields, frames, cut = {}, [], False
        elif s == "stackTrace = [":
            in_stack = True
        elif " = " in s:
            k, v = s.split(" = ", 1)
            fields[k] = v
    if p.wait():
        sys.exit(f"jfr_breakdown: jfr print failed on {path}")


def quoted(value):
    """The quoted head of a field (`"main" (javaThreadId = 1)` -> main)."""
    return value.split('"')[1] if value and value.count('"') >= 2 else None


def category(frames):
    for name, patterns in CATEGORIES:
        if any(p in f for f in frames for p in patterns):
            return name
    return "other"


def sample_table(path, thread, callers):
    per_op = {c: collections.Counter() for c in callers}
    total = truncated = 0
    for fields, frames, cut in events(path, "jdk.ExecutionSample"):
        if not (quoted(fields.get("sampledThread")) or "").startswith(thread):
            continue
        total += 1
        truncated += cut
        # leaf first: the frames above the OUTERMOST caller frame are the
        # operation's own work, nested calls of the same operation included
        for c in callers:
            at = [i for i, f in enumerate(frames) if f == c]
            if at:
                per_op[c][category(frames[:at[-1]])] += 1
    print(f"samples on threads {thread!r}*: {total} ({truncated} with a truncated stack)")
    for c in callers:
        n = sum(per_op[c].values())
        print(f"\n{c}: {n} samples")
        for name, k in per_op[c].most_common():
            print(f"  {k:6d}  {k / n:5.2f}  {name}")


def process_table(path, callers):
    by = collections.Counter()
    per_op = collections.Counter()
    for fields, frames, _ in events(path, "jdk.ProcessStart"):
        cmd = (quoted(fields.get("command")) or "").split()
        thread = quoted(fields.get("eventThread"))
        caller = next((f for f in frames if f.startswith(("graft.", "perfbench."))), f"thread {thread}")
        by[(os.path.basename(cmd[0]) if cmd else "-", caller)] += 1
        per_op.update(c for c in callers if c in frames)
    print(f"\nprocess starts: {sum(by.values())}")
    for c in callers:
        print(f"  {per_op[c]:6d}  under {c}")
    for (cmd, caller), k in by.most_common():
        print(f"  {k:6d}  {cmd:10s}  {caller}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--thread", default="main",
                    help="prefix of the sampled threads' names (default: main; a streaming micro-batch "
                         "runs on 'stream execution thread', '' takes every thread)")
    ap.add_argument("--caller", action="append", default=[],
                    help="the frame of one operation, e.g. graft.core.BucketedStore.lookup (a Scala object's "
                         "method is Object$.method, e.g. graft.streaming.Fastlane$.serveOnceBucketed); "
                         "repeatable")
    a = ap.parse_args()
    if not os.path.exists(a.recording):
        sys.exit(f"jfr_breakdown: no such recording {a.recording}")
    callers = a.caller or ["graft.core.BucketedStore.lookup", "graft.core.BucketedStore.merge",
                           "graft.core.BucketedStore.mergeAdd"]
    sample_table(a.recording, a.thread, callers)
    process_table(a.recording, callers)


if __name__ == "__main__":
    main()
