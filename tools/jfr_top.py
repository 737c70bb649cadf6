#!/usr/bin/env python3
"""Rank methods by their share of JFR execution samples.

    jfr print --stack-depth 64 --events jdk.ExecutionSample rec.jfr > samples.txt
    python3 tools/jfr_top.py samples.txt [--top 30] [--match graft.]

Reads the text `jfr print` writes (or standard input when the file is
`-`) and prints, per method, its self share (samples whose top frame is
the method) and its inclusive share (samples with the method anywhere on
the stack, counted once per sample), sorted by inclusive share. Frames
are named `Class.method` without argument lists or line numbers, so
overloads fold together. Stacks cut at `--stack-depth` undercount the
inclusive share of frames near the root.
"""
import argparse
import collections
import re
import sys

FRAME = re.compile(r"^\s+([\w$.<>]+)\(")


def stacks(lines):
    """Yield each sample's frames, top of stack first."""
    frames = None
    for line in lines:
        if line.startswith("jdk.ExecutionSample"):
            frames = []
        elif frames is not None and line.strip() == "]":
            yield frames
            frames = None
        elif frames is not None:
            m = FRAME.match(line)
            if m:
                frames.append(m.group(1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("file", help="output of jfr print, or - for stdin")
    ap.add_argument("--top", type=int, default=30,
                    help="rows to print (default 30)")
    ap.add_argument("--match", default="",
                    help="only print methods whose name contains this")
    args = ap.parse_args()

    src = sys.stdin if args.file == "-" else open(args.file)
    total = 0
    self_n = collections.Counter()
    incl_n = collections.Counter()
    for frames in stacks(src):
        total += 1
        if frames:
            self_n[frames[0]] += 1
        for f in set(frames):
            incl_n[f] += 1
    if total == 0:
        sys.exit("no jdk.ExecutionSample events in the input")

    print(f"{total} samples")
    print(f"{'self %':>7} {'incl %':>7}  method")
    rows = [m for m, _ in incl_n.most_common() if args.match in m]
    for m in rows[:args.top]:
        print(f"{100.0 * self_n[m] / total:7.1f} "
              f"{100.0 * incl_n[m] / total:7.1f}  {m}")


if __name__ == "__main__":
    main()
