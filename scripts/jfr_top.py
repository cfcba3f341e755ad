#!/usr/bin/env python3
"""Where did the CPU go? Summarise JFR execution samples over a trailing window.

Reads the `jdk.ExecutionSample` events of a Java Flight Recording (through
`jfr print`) and prints, over the last N seconds of the recording (the steady
state, after JVM start, set-up and warm-up):

  * each thread group's share of all samples (thread names with UUIDs and
    digits folded, so "shuffle-exchange-12" and its siblings count as one
    group, as do all "Executor task launch worker ..." threads);
  * the inclusive share of named frame families: the fraction of samples
    whose stack holds at least one matching frame anywhere. The families
    are `hof` (Spark's interpreted higher-order functions: zip_with,
    aggregate, transform, ...), `janino` (code generation and compilation),
    `sorter` (Spark's external sorters and TimSort), `shuffle` (shuffle
    writers, readers and exchanges), `catalyst` (driver-side planning: rule
    executors, the analyzer and optimizer, and adaptive re-planning) and
    `scheduler` (the DAG and task schedulers).

A sample is one stack of one running Java thread, taken every 10-20 ms by the
`profile` settings, so shares are shares of on-CPU Java time; JIT compiler
and GC threads are not Java threads and do not appear.

Method (how a hotspot is found):

    # 1. record a benchmark run (any JVM honours JAVA_TOOL_OPTIONS)
    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile" \\
        python3 perfbench/run.py --workload curate_search_append --seed 7 --seconds 30
    # 2. summarise the last 30 s (the timed iterations)
    python3 scripts/jfr_top.py /tmp/run.jfr --window 30
"""
import argparse
import re
import subprocess
import sys
from collections import Counter
from datetime import datetime

DEPTH = 256  # stack frames read per sample
TOP = 12  # thread groups listed

FAMILIES = {
    "hof": r"org\.apache\.spark\.sql\.catalyst\.expressions\.(ZipWith|ArrayAggregate"
           r"|ArrayTransform|ArrayFilter|ArrayExists|ArrayForAll|ArraySort|MapFilter"
           r"|MapZipWith|TransformKeys|TransformValues|HigherOrderFunction"
           r"|SimpleHigherOrderFunction|ArrayBasedSimpleHigherOrderFunction"
           r"|LambdaFunction|NamedLambdaVariable)\b",
    "janino": r"org\.codehaus\.(janino|commons\.compiler)\."
              r"|expressions\.codegen\.CodeGenerator\$?\.",
    "sorter": r"org\.apache\.spark\.util\.collection\.unsafe\.sort\."
              r"|org\.apache\.spark\.util\.collection\.(TimSort|Sorter)\b"
              r"|org\.apache\.spark\.sql\.execution\.(UnsafeExternalRowSorter|SortExec)\b",
    "shuffle": r"org\.apache\.spark\.shuffle\."
               r"|org\.apache\.spark\.sql\.execution\.exchange\."
               r"|org\.apache\.spark\.storage\.ShuffleBlockFetcherIterator\b",
    "catalyst": r"org\.apache\.spark\.sql\.catalyst\.rules\.RuleExecutor\b"
                r"|org\.apache\.spark\.sql\.catalyst\.analysis\.Analyzer\b"
                r"|org\.apache\.spark\.sql\.catalyst\.optimizer\.Optimizer\b"
                r"|org\.apache\.spark\.sql\.execution\.adaptive\.AdaptiveSparkPlanExec\$*"
                r"\.(\$anonfun\$)?(reOptimize|createQueryStages|newQueryStage"
                r"|optimizeQueryStage|applyPhysicalRules)\b",
    "scheduler": r"org\.apache\.spark\.scheduler\.(DAGScheduler|TaskSchedulerImpl)\b",
}

TIME = re.compile(r"startTime = (\d\d:\d\d:\d\d(?:\.\d+)?)(?: \((\d{4}-\d\d-\d\d)\))?")
THREAD = re.compile(r'sampledThread = "(.*)" \(')
# The stack ends at the line that is only "]": frames themselves may hold
# brackets (array parameters such as `Arrays.copyOf(Object[], int)`).
STACK = re.compile(r"stackTrace = \[\n(.*?)\n\s*\]\s*$", re.S | re.M)
UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def read_samples(path):
    r = subprocess.run(["jfr", "print", "--events", "jdk.ExecutionSample",
                        "--stack-depth", str(DEPTH), path],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit("jfr_top: jfr print failed: " + r.stderr.strip())
    return r.stdout


def parse(text):
    """Yield (seconds, thread, [frames]) per execution sample."""
    for block in text.split("jdk.ExecutionSample {")[1:]:
        t = TIME.search(block)
        th = THREAD.search(block)
        if not t or not th:
            continue
        stamp = (t.group(2) or "1970-01-01") + " " + t.group(1)
        fmt = "%Y-%m-%d %H:%M:%S.%f" if "." in t.group(1) else "%Y-%m-%d %H:%M:%S"
        secs = datetime.strptime(stamp, fmt).timestamp()
        st = STACK.search(block)
        frames = [f.strip() for f in st.group(1).splitlines()
                  if f.strip() and f.strip() != "..."] if st else []
        yield secs, th.group(1), frames


def group_of(thread):
    """Fold the ids and digits of a thread name, e.g. 'shuffle-client-3-1' -> 'shuffle-client-#-#'."""
    if thread.startswith("Executor task launch worker"):
        return "executor task"
    return re.sub(r"\d+", "#", UUID.sub("<uuid>", thread))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording", help="a .jfr file")
    ap.add_argument("--window", type=float, default=60.0,
                    help="trailing window in seconds (0 = the whole recording)")
    args = ap.parse_args()
    patterns = {n: re.compile(rx) for n, rx in FAMILIES.items()}

    samples = list(parse(read_samples(args.recording)))
    if not samples:
        sys.exit("jfr_top: no jdk.ExecutionSample events in " + args.recording)
    end = max(s for s, _, _ in samples)
    start = end - args.window if args.window > 0 else min(s for s, _, _ in samples)
    window = [(th, fr) for s, th, fr in samples if s >= start]
    n = len(window)
    groups = Counter(group_of(th) for th, _ in window)

    print("%d samples over the last %.1f s" % (n, end - start))
    print("\nthread group share")
    for g, c in groups.most_common(TOP):
        print("  %6.1f %%  %s" % (100.0 * c / n, g))
    print("\nframe family inclusive share")
    for name, p in patterns.items():
        share = sum(1 for _, fr in window if any(p.search(f) for f in fr)) / n
        print("  %6.1f %%  %s" % (100.0 * share, name))


if __name__ == "__main__":
    main()
