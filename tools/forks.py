#!/usr/bin/env python3
"""Group the process starts in a JFR recording by command and by caller.

Usage: python3 tools/forks.py <recording.jfr>

Record with the `java` line of tools/run_main.sh plus
  -XX:StartFlightRecording=filename=<recording.jfr>,settings=profile
  -XX:FlightRecorderOptions:stackdepth=256
(`settings=profile` enables jdk.ProcessStart with stack traces; the deeper
stacks keep the Spark and graft frames under Hadoop's own.)

Prints the jdk.ProcessStart events counted by program name, by the
innermost frame in a Spark or graft class, and the number started through
Hadoop's org.apache.hadoop.util.Shell (the `chmod` and `readlink` that
graft.sources.LocalFs answers through java.nio, or any other Hadoop
shell-out). Shell's class initializer runs one `setsid` probe per JVM,
at context start; it is counted apart. Exits 1 when any other Hadoop
Shell start remains. Needs the JDK's `jfr` tool on PATH.
"""
import collections
import json
import subprocess
import sys

SHELL = "org.apache.hadoop.util.Shell"
CALLERS = ("org.apache.spark.", "graft.")


def events(path):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "256",
                          "--events", "jdk.ProcessStart", path],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def frames(ev):
    st = ev["values"].get("stackTrace") or {}
    for f in st.get("frames", []):
        m = f["method"]
        yield m["type"]["name"].replace("/", "."), m["name"]


def caller(ev):
    for cls, meth in frames(ev):
        if cls.startswith(CALLERS):
            return f"{cls}.{meth}"
    return "(no Spark or graft frame in the recorded stack)"


def command(ev):
    """the program's name: arguments are mostly paths, unique per start"""
    words = (ev["values"].get("command") or "").split()
    return words[0].rsplit("/", 1)[-1] if words else "(unknown)"


def table(title, counts):
    print(f"{title}:")
    for k, n in counts.most_common():
        print(f"  {n:6d}  {k}")


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    evs = events(sys.argv[1])
    shell = [e for e in evs if any(c.startswith(SHELL) for c, _ in frames(e))]
    probe = [e for e in shell if (SHELL, "<clinit>") in frames(e)]
    shell = [e for e in shell if e not in probe]
    print(f"{len(evs)} process starts")
    table("by command", collections.Counter(command(e) for e in evs))
    table("by first Spark or graft frame", collections.Counter(caller(e) for e in evs))
    print(f"{SHELL} class-init probe: {len(probe)}")
    print(f"through {SHELL} otherwise: {len(shell)}")
    if shell:
        table("  Hadoop Shell starts by command", collections.Counter(command(e) for e in shell))
    sys.exit(1 if shell else 0)


if __name__ == "__main__":
    main()
