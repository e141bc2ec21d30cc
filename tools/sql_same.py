#!/usr/bin/env python3
"""Compare two `oracle_sql.json` dumps key by key, token for token.

    python3 tools/sql_same.py A/oracle_sql.json B/oracle_sql.json

Two strings are token-identical when they differ only in whitespace that
no SQL lexer can see: whitespace outside quotes matters only between two
word characters ([A-Za-z0-9_]), where any run of it counts as one space.
Single-quoted literals and double-quoted identifiers must match byte for
byte, and so must `--` comments, whose line end is kept. Prints every
differing key with the first differing token, then the key, token-identical
and byte-identical counts. Exits 1 on any missing key or token difference.

Verify writes the full map even when its query filter matches nothing, so
a dump needs no query run:

    sbt "runMain graft.Verify <sf-dir> <out-dir> none"
"""
import json
import sys


def _word(c):
    return c.isalnum() or c == "_"


def canon(sql):
    """The string with each whitespace run outside quotes dropped, or cut
    to one space where it separates two word characters."""
    out, i, n = [], 0, len(sql)
    while i < n:
        c = sql[i]
        if c in "'\"":
            j = i + 1
            while j < n:
                if sql[j] == c:
                    if j + 1 < n and sql[j + 1] == c:  # doubled quote escape
                        j += 2
                        continue
                    break
                j += 1
            out.append(sql[i:j + 1])
            i = j + 1
        elif sql.startswith("--", i):
            j = sql.find("\n", i)
            j = n if j < 0 else j + 1
            out.append(sql[i:j])
            i = j
        elif c.isspace():
            j = i
            while j < n and sql[j].isspace():
                j += 1
            prev = out[-1][-1:] if out else ""
            nxt = sql[j] if j < n else ""
            # a space between '-' and '-' keeps them two minus signs
            if (_word(prev) and _word(nxt)) or (prev == "-" and nxt == "-"):
                out.append(" ")
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def first_diff(a, b):
    k = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
    return k, a[max(0, k - 60):k + 60], b[max(0, k - 60):k + 60]


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a = json.load(open(argv[1], encoding="utf-8"))
    b = json.load(open(argv[2], encoding="utf-8"))
    bad = 0
    for k in sorted(set(a) ^ set(b)):
        print(f"MISSING {k}: only in {'A' if k in a else 'B'}")
        bad += 1
    same = byte_same = 0
    for k in sorted(set(a) & set(b)):
        ca, cb = canon(a[k]), canon(b[k])
        if ca == cb:
            same += 1
            byte_same += a[k] == b[k]
        else:
            bad += 1
            pos, sa, sb = first_diff(ca, cb)
            print(f"DIFF {k} at canonical offset {pos}:\n  A: {sa!r}\n  B: {sb!r}")
    print(f"{len(set(a) & set(b))} common keys, {same} token-identical, "
          f"{byte_same} byte-identical, {bad} differences")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
