#!/usr/bin/env python3
"""Process starts, thread starts and main-thread park time of a JFR recording.

    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=512 \\
        -XX:StartFlightRecording=filename=DIR/" python3 perfbench/run.py ...
    jfr print --json --stack-depth 512 \\
        --events jdk.ProcessStart,jdk.ThreadStart,jdk.ThreadPark DIR/*.jfr > rec.json
    python3 tools/jfr_summary.py rec.json [--per N] [--park-frame FRAME]

Reads the output of `jfr print --json` (a file, or `-` for standard input)
and prints three tables:

  process starts   by command (its first word) and the first `graft.` frame
                   of the stack that started it (`-` when there is none);
  thread starts    by pool name: the started thread's name with every run
                   of digits written as N;
  main-thread park the time the `main` thread spent in parks whose stack
                   holds FRAME (default `graft.ledger.Catalog.footers`).

A Scala lambda frame (`Catalog.$anonfun$dataFiles$3`) is named after the
method that holds it (`Catalog.dataFiles`). `--per N` divides every count
and time by N, for example by the number of uploads the recorded run made.
`jfr print` keeps 5 frames of a stack unless `--stack-depth` asks for more,
and a frame below that depth is invisible here. JFR records a park only
above its threshold (20 ms in the default settings), so the park time is a
floor. Uses the standard library only.
"""

import argparse
import collections
import json
import re
import sys

LAMBDA = re.compile(r"^\$anonfun\$(.+?)\$\d+$")
DURATION = re.compile(r"^(-)?PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?$")


def seconds(iso):
    """An ISO-8601 duration as JFR prints it (`PT0.0618S`, `PT1M2S`) in seconds."""
    m = DURATION.match(iso or "")
    if not m:
        return 0.0
    sign, h, mi, s = m.groups()
    total = int(h or 0) * 3600 + int(mi or 0) * 60 + float(s or 0)
    return -total if sign else total


def frames(event):
    """The event's stack as `package.Class.method` names, innermost first."""
    stack = event["values"].get("stackTrace") or {}
    return [f["method"]["type"]["name"].replace("/", ".") + "."
            + LAMBDA.sub(r"\1", f["method"]["name"])
            for f in stack.get("frames") or []]


def thread_name(thread):
    return (thread or {}).get("javaName") or (thread or {}).get("osName") or "?"


def summarize(events, park_frame="graft.ledger.Catalog.footers"):
    """Counters of process starts and thread starts, and the park seconds."""
    processes, threads = collections.Counter(), collections.Counter()
    park_s = 0.0
    for e in events:
        kind, v = e["type"], e["values"]
        if kind == "jdk.ProcessStart":
            command = (v.get("command") or "").split(" ")[0] or "?"
            caller = next((f for f in frames(e) if f.startswith("graft.")), "-")
            processes[(command, caller)] += 1
        elif kind == "jdk.ThreadStart":
            threads[re.sub(r"\d+", "N", thread_name(v.get("thread")))] += 1
        elif kind == "jdk.ThreadPark":
            if thread_name(v.get("eventThread")) == "main" and park_frame in frames(e):
                park_s += seconds(v.get("duration"))
    return processes, threads, park_s


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("json", help="`jfr print --json` output, or - for standard input")
    ap.add_argument("--per", type=float, default=1.0, help="divide every figure by this")
    ap.add_argument("--park-frame", default="graft.ledger.Catalog.footers")
    args = ap.parse_args(argv)
    if args.json == "-":
        rec = json.load(sys.stdin)
    else:
        with open(args.json) as f:
            rec = json.load(f)
    processes, threads, park_s = summarize(rec["recording"]["events"], args.park_frame)
    per = args.per
    print("| process | first graft. frame | starts |")
    print("| --- | --- | ---: |")
    for (command, caller), n in processes.most_common():
        print(f"| {command} | {caller} | {n / per:g} |")
    print()
    print("| thread pool | starts |")
    print("| --- | ---: |")
    for pool, n in threads.most_common():
        print(f"| {pool} | {n / per:g} |")
    print()
    print(f"main-thread park under {args.park_frame}: {park_s * 1000 / per:.1f} ms")
    return 0


if __name__ == "__main__":
    sys.exit(main())
