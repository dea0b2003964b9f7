#!/usr/bin/env python3
"""Where a Flight Recorder recording's CPU samples went, by thread and by
frame.

    python3 tools/jfr_top.py <file.jfr> [thread-substring]

Reads the recording's `jdk.ExecutionSample` events through the JDK's
`jfr print --json --stack-depth 512` (without `--stack-depth`, `jfr print`
keeps only the top 5 frames of each stack). Prints:

- each thread's share of all samples, largest first, with numbers and
  ids in thread names collapsed (`... task #.# in stage #.# (TID #)`), so
  that one kind of thread is one row;
- for the samples of the threads whose name contains `thread-substring`
  (all threads when it is omitted), each frame's inclusive share: the
  fraction of those samples whose stack contains the frame anywhere, so
  a caller's share includes its callees' and shares do not sum to 100%.

A frame is `class.method`. Samples whose stack the recorder truncated are
counted and reported: record with `-XX:FlightRecorderOptions:stackdepth=512`
(the default depth is 64), or an outer frame's share reads too low.
"""
import argparse
import collections
import json
import re
import subprocess
import sys


def samples(path):
    """(thread name, [frame, ...] innermost first, truncated) per sample."""
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "512",
         "--events", "jdk.ExecutionSample", path],
        check=True, capture_output=True, text=True).stdout
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        thread = v.get("sampledThread") or {}
        name = thread.get("javaName") or thread.get("osName") or "?"
        stack = v.get("stackTrace") or {}
        frames = [(f["method"]["type"]["name"] + "." +
                   f["method"]["name"]).replace("/", ".")
                  for f in stack.get("frames") or []]
        yield name, frames, bool(stack.get("truncated"))


TOP = 25  # rows per table

UUID = re.compile(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}")


def kind(thread):
    """A thread name with its uuids and numbers collapsed."""
    return re.sub(r"\d+", "#", UUID.sub("<id>", thread))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("jfr")
    ap.add_argument("thread", nargs="?", default="")
    a = ap.parse_args()

    all_samples = list(samples(a.jfr))
    if not all_samples:
        sys.exit(f"{a.jfr}: no jdk.ExecutionSample events")
    by_thread = collections.Counter(kind(t) for t, _, _ in all_samples)
    n = len(all_samples)
    print(f"{n} samples, {len(by_thread)} kinds of thread")
    print("share   samples  thread")
    for t, c in by_thread.most_common(TOP):
        print(f"{100 * c / n:5.1f}%  {c:7d}  {t}")

    picked = [(f, tr) for t, f, tr in all_samples if a.thread in t]
    if not picked:
        sys.exit(f"no samples on a thread whose name contains {a.thread!r}")
    inclusive = collections.Counter()
    for frames, _ in picked:
        inclusive.update(set(frames))
    m = len(picked)
    truncated = sum(tr for _, tr in picked)
    label = f"threads containing {a.thread!r}" if a.thread else "all threads"
    print(f"\n{m} samples on {label}; {truncated} with a truncated stack")
    print("inclusive  samples  frame")
    for f, c in inclusive.most_common(TOP):
        print(f"{100 * c / m:8.1f}%  {c:7d}  {f}")


if __name__ == "__main__":
    main()
