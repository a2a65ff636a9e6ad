#!/usr/bin/env python3
"""Count the WARN lines of Spark/log4j logs, by logger and by message.

    python3 tools/warn_lines.py STDERR_FILE [STDERR_FILE ...]

A WARN line is a line holding `WARN <logger>: <message>`, the shape of
Spark's default log4j pattern (`yy/MM/dd HH:mm:ss WARN WindowExec: ...`),
also behind a prefix such as sbt's `[error] `. The logger is the name
before the colon; the message is what follows it, with every UUID and
then every run of digits masked as `#`, so one warning repeated with
other sizes, ids, job groups or times counts as one message.

Prints the number of WARN lines over all files, then the counts by logger
and by `logger: message`, largest first (ties by name). Lines that are no
WARN lines are skipped. Exit status is 0 unless a file cannot be read.
"""
import argparse
import re
import sys
from collections import Counter
from pathlib import Path

WARN = re.compile(r"\bWARN\s+([\w$.\-]+):\s?(.*)$")
UUID = re.compile(r"\b[0-9a-fA-F]{8}(?:-[0-9a-fA-F]{4}){3}-[0-9a-fA-F]{12}\b")
DIGITS = re.compile(r"\d+")


def warn_line(line):
    """(logger, masked message) of a WARN line, else None."""
    m = WARN.search(line.rstrip("\r\n"))
    if not m:
        return None
    return m.group(1), DIGITS.sub("#", UUID.sub("#", m.group(2).strip()))


def count(lines):
    """(Counter by logger, Counter by (logger, masked message)) of `lines`."""
    by_logger, by_message = Counter(), Counter()
    for line in lines:
        w = warn_line(line)
        if w:
            by_logger[w[0]] += 1
            by_message[w] += 1
    return by_logger, by_message


def ranked(counter):
    """The counter's items, largest count first, ties by key."""
    return sorted(counter.items(), key=lambda kv: (-kv[1], kv[0]))


def report(by_logger, by_message):
    """The printed report of two counters from `count`."""
    out = [f"WARN lines: {sum(by_logger.values())}", "by logger:"]
    out += [f"{n:>7}  {logger}" for logger, n in ranked(by_logger)]
    out.append("by message:")
    out += [f"{n:>7}  {logger}: {msg}" for (logger, msg), n in ranked(by_message)]
    return "\n".join(out)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("files", nargs="+", help="log files, e.g. a run's captured stderr")
    args = ap.parse_args(argv)
    lines = []
    for f in args.files:
        lines += Path(f).read_text(errors="replace").splitlines()
    print(report(*count(lines)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
