#!/usr/bin/env python3
"""Count Scala code lines: non-blank lines that are not comment lines.

Comment lines are `//` lines and every line of a `/* ... */` block
(scaladoc included). A line with code before a trailing comment is code.

Usage:
  tools/loc.py [--rev REV] [PATH ...]

PATH is a .scala file or a directory searched for .scala files; the
default is src/main/scala. Prints one line per file and a total. With
--rev, also prints the counts of the same files at git revision REV
(0 where the file does not exist there) and the difference.
"""
import argparse
import os
import subprocess
import sys


def code_lines(text):
    n, in_block = 0, False
    for line in text.splitlines():
        s = line.strip()
        if in_block:
            if "*/" in s:
                in_block = False
                rest = s.split("*/", 1)[1].strip()
                if rest and not rest.startswith("//"):
                    n += 1
            continue
        if not s or s.startswith("//"):
            continue
        if s.startswith("/*"):
            in_block = "*/" not in s[2:]
            continue
        n += 1
    return n


def scala_files(paths):
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                out += [os.path.join(root, f) for f in names if f.endswith(".scala")]
        else:
            out.append(p)
    return sorted(set(os.path.normpath(f) for f in out))


def at_rev(rev, path):
    r = subprocess.run(["git", "show", f"{rev}:./{path}"],
                       capture_output=True, text=True)
    return code_lines(r.stdout) if r.returncode == 0 else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev")
    ap.add_argument("paths", nargs="*", default=["src/main/scala"])
    a = ap.parse_args()
    files = scala_files(a.paths)
    if a.rev:
        # files deleted since REV still count on its side
        for p in a.paths:
            r = subprocess.run(["git", "ls-tree", "-r", "--name-only", a.rev,
                                "--", p], capture_output=True, text=True)
            files = sorted(set(files) | {os.path.normpath(f)
                                         for f in r.stdout.split()
                                         if f.endswith(".scala")})
    total_now = total_rev = 0
    for f in files:
        now = code_lines(open(f).read()) if os.path.exists(f) else 0
        total_now += now
        if a.rev:
            old = at_rev(a.rev, f)
            total_rev += old
            print(f"{now:7d} {old:7d} {now - old:+6d}  {f}")
        else:
            print(f"{now:7d}  {f}")
    if a.rev:
        print(f"{total_now:7d} {total_rev:7d} {total_now - total_rev:+6d}  "
              f"total (now, {a.rev}, change)")
    else:
        print(f"{total_now:7d}  total")


if __name__ == "__main__":
    sys.exit(main())
