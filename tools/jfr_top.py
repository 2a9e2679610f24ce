#!/usr/bin/env python3
"""Summarise a flight recording: where the samples went and who forks.

    python3 tools/jfr_top.py <recording.jfr> [--thread PREFIX] [--top N] [--chain K]

Reads the recording through the JDK's `jfr print --json --stack-depth 64`
(the default depth of 5 truncates nearly every Spark stack) and prints:

  - samples per thread (jdk.ExecutionSample + jdk.NativeMethodSample);
  - the top self frames, over the threads whose name starts with PREFIX
    when --thread is given, else over all threads;
  - the non-JDK callers of `java.lang.ProcessBuilder.start`, from the
    samples and, when recorded, from jdk.ProcessStart events (one per
    fork): the first K frames below `start` outside java.*, javax.*,
    jdk.*, sun.* and com.sun.*, innermost first, a repeated frame once.

Record with tools/sample.jfc (5 ms samples, process starts with stacks):
    -XX:StartFlightRecording=filename=<out.jfr>,settings=tools/sample.jfc
Python standard library only.
"""
import argparse
import collections
import json
import subprocess
import sys

SAMPLES = ("jdk.ExecutionSample", "jdk.NativeMethodSample")
FORKS = "jdk.ProcessStart"
JDK_PREFIXES = ("java.", "javax.", "jdk.", "sun.", "com.sun.")


def frame_name(frame):
    m = frame.get("method") or {}
    cls = (m.get("type") or {}).get("name", "?").replace("/", ".")
    return f"{cls}.{m.get('name', '?')}"


def thread_name(values):
    t = values.get("sampledThread") or values.get("eventThread") or {}
    return t.get("javaName") or t.get("osName") or "?"


def frames(values):
    return [frame_name(f) for f in ((values.get("stackTrace") or {}).get("frames") or [])]


def fork_callers(stack, k):
    """The first k non-JDK frames below ProcessBuilder.start (innermost
    first), or None when the stack does not pass through it."""
    for i, name in enumerate(stack):
        if name == "java.lang.ProcessBuilder.start":
            callers = []
            for f in stack[i + 1:]:
                # recursion and overloads repeat a frame: show it once
                if not f.startswith(JDK_PREFIXES) and (not callers or callers[-1] != f):
                    callers.append(f)
            return " < ".join(callers[:k]) or "(JDK only)"
    return None


def load(path):
    cmd = ["jfr", "print", "--json", "--stack-depth", "64",
           "--events", ",".join(SAMPLES + (FORKS,)), path]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("recording")
    p.add_argument("--thread", default="", help="thread-name prefix for the frame table")
    p.add_argument("--top", type=int, default=20, help="rows per table (default 20)")
    p.add_argument("--chain", type=int, default=7,
                   help="non-JDK caller frames shown per fork site (default 7)")
    a = p.parse_args()

    per_thread = collections.Counter()
    self_frames = collections.Counter()
    sampled_forks = collections.Counter()
    fork_events = collections.Counter()
    fork_threads = collections.Counter()
    selected = 0
    for ev in load(a.recording):
        values = ev.get("values") or {}
        thread = thread_name(values)
        stack = frames(values)
        if ev.get("type") == FORKS:
            fork_events[fork_callers(stack, a.chain) or "(no ProcessBuilder.start frame)"] += 1
            fork_threads[thread] += 1
            continue
        per_thread[thread] += 1
        if thread.startswith(a.thread):
            selected += 1
            if stack:
                self_frames[stack[0]] += 1
        callers = fork_callers(stack, a.chain)
        if callers is not None:
            sampled_forks[callers] += 1

    print(f"== samples per thread ({sum(per_thread.values())} samples)")
    for name, n in per_thread.most_common(a.top):
        print(f"{n:8d}  {name}")
    scope = f"threads '{a.thread}*'" if a.thread else "all threads"
    print(f"== top self frames, {scope} ({selected} samples)")
    for name, n in self_frames.most_common(a.top):
        print(f"{n:8d}  {name}")
    print(f"== ProcessBuilder.start callers in samples ({sum(sampled_forks.values())} samples)")
    for name, n in sampled_forks.most_common(a.top):
        print(f"{n:8d}  {name}")
    if fork_events:
        print(f"== process starts ({sum(fork_events.values())} {FORKS} events)")
        for name, n in fork_events.most_common(a.top):
            print(f"{n:8d}  {name}")
        for name, n in fork_threads.most_common(a.top):
            print(f"{n:8d}  thread {name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
