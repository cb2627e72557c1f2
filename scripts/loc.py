#!/usr/bin/env python3
"""Non-comment lines of code in the Scala sources.

A line counts when it is not blank once `//` line comments and `/* */`
block comments (scaladoc included) are removed; comment markers inside
string literals are not comment starts. Prints one line per tree:

    python3 scripts/loc.py [repo_root]
"""
import os
import sys

TREES = ["src/main/scala", "src/main/scala/graft/xml",
         "src/main/scala/graft/plans", "src/test/scala"]


def code_lines(text):
    """Counts the lines of `text` that hold code outside comments."""
    count = 0
    in_block = False
    for line in text.splitlines():
        code = []
        i = 0
        quote = None
        while i < len(line):
            c = line[i]
            if in_block:
                if line.startswith("*/", i):
                    in_block = False
                    i += 2
                else:
                    i += 1
            elif quote:
                code.append(c)
                if c == "\\":
                    code.append(line[i + 1:i + 2])
                    i += 2
                    continue
                if line.startswith(quote, i):
                    code.append(quote[1:])
                    i += len(quote)
                    quote = None
                    continue
                i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                in_block = True
                i += 2
            elif line.startswith('"""', i):
                quote = '"""'
                code.append(quote)
                i += 3
            elif c == '"':
                quote = '"'
                code.append(c)
                i += 1
            elif c == "'" and line[i + 2:i + 3] == "'":
                code.append(line[i:i + 3])  # a char literal such as '/'
                i += 3
            else:
                code.append(c)
                i += 1
        if quote == '"':
            quote = None  # a plain string literal ends with its line
        if "".join(code).strip():
            count += 1
    return count


def tree_loc(root):
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    total += code_lines(fh.read())
    return total


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else "."
    for tree in TREES:
        print(f"{tree_loc(os.path.join(repo, tree)):>7}  {tree}")


if __name__ == "__main__":
    main()
