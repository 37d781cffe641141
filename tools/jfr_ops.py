#!/usr/bin/env python3
"""Executor CPU samples of a JFR recording, by Spark operator.

Record any graft JVM run (the perfbench harness, a test, a driver main)
without touching its code; the harness passes the environment to its JVM:

    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=256 \\
      -XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile,jdk.ExecutionSample#period=1ms" \\
        python3 perfbench/run.py --workload ingest_bulk --seed 1217 --seconds 10 --trace 0

(`jdk.ExecutionSample#period=1ms` samples each running Java thread every
millisecond; the `profile` settings alone sample every 10 ms.) The variable
reaches every JVM the run starts, sbt included, so build first when sources
changed, or each JVM overwrites the file. Then

    python3 tools/jfr_ops.py /tmp/run.jfr

reads the recording through `jfr print` and prints, for the executor
threads' samples (`Executor task launch worker …`) that fall inside the time
spans of the stream threads (`stream execution thread for …`, one per
streaming query, so one per ingest_bulk drain), the samples per operator,
their share, and samples per drain. `--whole` counts every executor sample
of the recording instead.

A sample goes to the operator of its leaf-most frame that names one,
walking from the running frame toward the thread's root: sort (Spark's row
sorters), rank-limit/window (`execution.window`), parquet encode, parquet
decode, shuffle read, shuffle write, observe (`CollectMetricsExec`), task
deserialize, sort input (generated code that feeds a sort its rows, such
as a projection below it), codegen compile, else other. The last line counts the samples with a `WindowExec`
frame anywhere on the stack: a merge or fold write that keeps each key's
first row with the rank-limit operator alone has none. `--leaves OPERATOR`
prints the most frequent leaf frames of one operator (e.g. `other`, to find
a frame the patterns miss).

Trap: `jfr print` keeps only the 5 leaf-most frames of each stack unless
given `--stack-depth`, and 5 frames rarely reach an operator's own class —
a sort's samples end in `ByteArray.compareBinary` under generated ordering
code, a shuffle read's in LZ4 and stream classes — so most samples would
land in "other" or in the wrong operator. This tool passes
`--stack-depth 256`; record with at least that `stackdepth` (the JVM
default, 64, cuts Catalyst and codegen stacks short as well).
"""

import argparse
import collections
import re
import subprocess
import sys

# (operator, pattern on a frame's qualified method name); the leaf-most
# frame matching any pattern decides. Generic helpers shared by several
# operators (TimSort, RadixSort, LZ4, streams) name none on purpose.
OPERATORS = [
    ("sort", r"^org\.apache\.spark\.sql\.execution\.(UnsafeExternalRowSorter|SortExec)"
             r"|^org\.apache\.spark\.util\.collection\.unsafe\.sort\."
             r"(UnsafeInMemorySorter|UnsafeExternalSorter|UnsafeSorterSpill)"),
    ("rank-limit/window", r"^org\.apache\.spark\.sql\.execution\.window\."),
    ("parquet encode", r"^org\.apache\.parquet\..*(Writer|Compressor|WriteStore)"
                       r"|^org\.apache\.spark\.sql\.execution\.datasources\.parquet\."
                       r"(ParquetWriteSupport|ParquetOutputWriter)"
                       r"|^graft\.lake\.ParquetWrite"),
    ("parquet decode", r"^org\.apache\.parquet\..*(Reader|Decompressor|ReadStore)"
                       r"|^org\.apache\.spark\.sql\.execution\.datasources\.parquet\."
                       r"(Vectorized|ParquetFileFormat|ParquetReadSupport|ParquetRowConverter)"
                       r"|^org\.apache\.spark\.sql\.execution\.vectorized\."),
    ("shuffle read", r"^org\.apache\.spark\.storage\.ShuffleBlockFetcherIterator"
                     r"|^org\.apache\.spark\.shuffle\.BlockStoreShuffleReader"
                     r"|^org\.apache\.spark\.sql\.execution\.UnsafeRowSerializerInstance\$\$anon\$2"
                     r"|^org\.apache\.spark\.sql\.execution\.ShuffledRowRDD"),
    ("shuffle write", r"^org\.apache\.spark\.shuffle\.(sort\.|ShuffleWriteProcessor)"
                      r"|^org\.apache\.spark\.storage\.DiskBlockObjectWriter"
                      r"|^org\.apache\.spark\.sql\.execution\.UnsafeRowSerializerInstance\$\$anon\$1"
                      r"|^org\.apache\.spark\.sql\.execution\.exchange\.ShuffleExchangeExec"),
    ("observe", r"^org\.apache\.spark\.sql\.execution\.(CollectMetricsExec|AggregatingAccumulator)"),
    ("task deserialize", r"^org\.apache\.spark\.serializer\.(JavaDeserializationStream|"
                         r"JavaSerializerInstance\.deserialize)"
                         r"|^org\.apache\.spark\.broadcast\.TorrentBroadcast"),
    ("sort input", r"\$GeneratedIteratorForCodegenStage\d+\.sort_addToSorter"),
    ("codegen compile", r"^org\.codehaus\.(janino|commons\.compiler)"),
]
COMPILED = [(name, re.compile(p)) for name, p in OPERATORS]
WINDOW_EXEC = re.compile(r"^org\.apache\.spark\.sql\.execution\.window\."
                         r"(WindowExec|WindowEvaluatorFactory)")
EXECUTOR = "Executor task launch worker"
STREAM = "stream execution thread for "
DAY_MS = 86400000


def events(path, names):
    """(event type, fields, frames) per event of `jfr print`: fields maps a
    top-level `key = value` line's key to its value, frames are the stack's
    qualified method names, leaf first."""
    proc = subprocess.Popen(["jfr", "print", "--stack-depth", "256", "--events",
                             ",".join(names), path],
                            stdout=subprocess.PIPE, text=True, bufsize=1 << 20)
    kind, fields, frames, in_stack = None, {}, [], False
    for line in proc.stdout:
        s = line.strip()
        if kind is None:
            if s.endswith("{"):
                kind, fields, frames, in_stack = s[:-1].strip(), {}, [], False
        elif in_stack:
            if s == "]":
                in_stack = False
            elif s and s != "...":
                frames.append(s.split("(", 1)[0])
        elif s == "}":
            yield kind, fields, frames
            kind = None
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif " = " in s:
            k, v = s.split(" = ", 1)
            fields[k] = v
    if proc.wait() != 0:
        sys.exit(f"jfr_ops: jfr print failed on {path}")


def thread_name(v):
    """`"name" (javaThreadId = n)` -> (name, n)."""
    m = re.match(r'"(.*)" \(javaThreadId = (\d+)\)', v or "")
    return (m.group(1), m.group(2)) if m else (None, None)


class Clock:
    """An event's time in milliseconds. `jfr print` gives a time of day;
    a jump back by more than half a day is a midnight wrap."""

    def __init__(self):
        self.day, self.last = 0, None

    def __call__(self, v):
        m = re.match(r"(\d+):(\d+):(\d+)\.(\d+)", v)
        if not m:
            return None
        h, mi, se, frac = m.groups()
        t = ((int(h) * 60 + int(mi)) * 60 + int(se)) * 1000 + int(frac[:3].ljust(3, "0"))
        if self.last is not None and t + DAY_MS // 2 < self.last:
            self.day += 1
        self.last = t
        return t + self.day * DAY_MS


def operator(frames):
    for f in frames:
        for name, rx in COMPILED:
            if rx.search(f):
                return name
    return "other"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--whole", action="store_true",
                    help="count every executor sample, not only those inside stream spans")
    ap.add_argument("--leaves", metavar="OPERATOR",
                    help="print the 20 most frequent leaf frames of this operator")
    args = ap.parse_args()

    clock = Clock()
    starts, spans = {}, []
    samples = []  # (time, operator, has WindowExec frame, leaf frame)
    for kind, fields, frames in events(args.recording,
                                       ["jdk.ExecutionSample", "jdk.ThreadStart",
                                        "jdk.ThreadEnd"]):
        t = clock(fields.get("startTime", ""))
        if t is None:
            continue
        if kind == "jdk.ExecutionSample":
            name, _ = thread_name(fields.get("sampledThread"))
            if name and name.startswith(EXECUTOR) and frames:
                samples.append((t, operator(frames),
                                any(WINDOW_EXEC.search(f) for f in frames), frames[0]))
        else:
            name, tid = thread_name(fields.get("thread"))
            if name and name.startswith(STREAM):
                if kind == "jdk.ThreadStart":
                    starts[tid] = t
                elif tid in starts:
                    spans.append((starts.pop(tid), t))
    spans.sort()
    if not args.whole and not spans:
        sys.exit("jfr_ops: no stream thread spans (jdk.ThreadStart/ThreadEnd) in the "
                 "recording; pass --whole to count every executor sample")

    def inside(t):
        return args.whole or any(a <= t <= b for a, b in spans)

    kept = [s for s in samples if inside(s[0])]
    per = collections.Counter(s[1] for s in kept)
    total = len(kept)
    drains = len(spans) or 1
    scope = "whole recording" if args.whole else f"{len(spans)} stream spans"
    print(f"jfr_ops: {args.recording}: {total} executor samples in {scope} "
          f"({len(samples) - total} outside)")
    print(f"{'operator':<20}{'samples':>9}{'share':>9}{'per drain':>11}")
    for name in [n for n, _ in OPERATORS] + ["other"]:
        n = per.get(name, 0)
        share = n / total if total else 0.0
        print(f"{name:<20}{n:>9}{share:>9.1%}{n / drains:>11.1f}")
    print(f"samples with a WindowExec frame: {sum(1 for s in kept if s[2])}")
    if args.leaves:
        leaves = collections.Counter(s[3] for s in kept if s[1] == args.leaves)
        print(f"top leaf frames of {args.leaves}:")
        for f, n in leaves.most_common(20):
            print(f"{n:>9}  {f}")


if __name__ == "__main__":
    main()
