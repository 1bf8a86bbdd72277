#!/usr/bin/env python3
"""Design-size counters, printed as one JSON line.

  main_lines       lines of the Scala sources under src/main
  graft_conf_keys  distinct "spark.graft.*" keys in string literals of
                   those sources (comments are ignored)
  broadcast_hints  calls of the broadcast( join hint in
                   src/main/scala/graft/ops: a `broadcast(` token outside
                   comments and string literals, not preceded by `.` or an
                   identifier character, so SparkContext variable
                   broadcasts (`sc.broadcast(...)`) are not counted; two
                   hints on one line count twice
  codegen_fallback classes under src/main that mix in CodegenFallback
                   (`extends` or `with` it, outside comments and strings):
                   expressions whole-stage codegen runs interpreted
  imperative_aggs  classes under src/main that extend
                   TypedImperativeAggregate (same rule): aggregates that
                   hold an object buffer and run in ObjectHashAggregate,
                   outside whole-stage codegen

Usage: python3 tools/size.py [REPO_ROOT]   (default: the current directory)
"""
import json
import os
import re
import sys

KEY = re.compile(r"spark\.graft\.[A-Za-z0-9_]+(?:\.[A-Za-z0-9_]+)*")
HINT = re.compile(r"(?<![A-Za-z0-9_.$])broadcast\(")
FALLBACK = re.compile(r"\b(?:extends|with)\s+CodegenFallback\b")
IMPERATIVE = re.compile(r"\b(?:extends|with)\s+TypedImperativeAggregate\b")


def split_scala(src):
    """-> (code, strings): the source with comments and string literals
    blanked out, and the list of string-literal bodies."""
    code, strings = [], []
    i, n, depth = 0, len(src), 0
    while i < n:
        if depth:  # inside a (nestable) block comment
            if src.startswith("/*", i):
                depth += 1
                i += 2
            elif src.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            code.append(" ")
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth = 1
            i += 2
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j
            while src.startswith('"', j + 3):  # """a"""" ends at the last quote
                j += 1
            strings.append(src[i + 3:j])
            code.append(" ")
            i = j + 3
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            strings.append(src[i + 1:j])
            code.append(" ")
            i = j + 1
        elif src[i] == "'" and re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4]):
            # a character literal ('"' must not open a string)
            j = src.index("'", i + 2 if src[i + 1] != "\\" else i + 3)
            code.append(" ")
            i = j + 1
        else:
            code.append(src[i])
            i += 1
    return "".join(code), strings


def scala_files(root):
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def main():
    repo = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")
    main_src = os.path.join(repo, "src", "main")
    ops = os.path.join(main_src, "scala", "graft", "ops")
    lines, keys, hints, fallback, imperative = 0, set(), 0, 0, 0
    for path in sorted(scala_files(main_src)):
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        lines += src.count("\n")
        code, strings = split_scala(src)
        for s in strings:
            keys.update(KEY.findall(s))
        if os.path.commonpath([path, ops]) == ops:
            hints += len(HINT.findall(code))
        fallback += len(FALLBACK.findall(code))
        imperative += len(IMPERATIVE.findall(code))
    print(json.dumps({"main_lines": lines, "graft_conf_keys": len(keys),
                      "broadcast_hints": hints, "codegen_fallback": fallback,
                      "imperative_aggs": imperative}))


if __name__ == "__main__":
    main()
