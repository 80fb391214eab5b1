#!/usr/bin/env python3
"""Count the code lines of Scala (or Java) sources.

Usage: python3 tools/loc.py <path> [<path> ...]

A code line is a line that holds at least one non-blank character outside
a comment. Line comments (`//`) and block comments (`/* */`, nested as
Scala nests them, scaladoc included) are not code; string literals are, so
a `"//"` or `"/*"` inside a string, a triple-quoted string or an
interpolated `${...}` splice does not start a comment. A directory counts
every `*.scala` and `*.java` file below it. Prints one `<count>  <path>`
line per argument, then `<total>  total`.
"""
import os
import sys

SOURCE_EXTS = (".scala", ".java")


def code_lines(text):
    """Number of lines of `text` that carry code outside comments."""
    code = set()        # line numbers (0-based) that hold code
    line = 0
    i, n = 0, len(text)
    # mode stack: "code", ("block", depth), "str", "istr", "tstr", "itstr",
    # ("splice", brace depth) for code inside an interpolated ${...}
    stack = ["code"]

    def mark():
        code.add(line)

    while i < n:
        c = text[i]
        top = stack[-1]
        if c == "\n":
            line += 1
            i += 1
            continue
        if isinstance(top, tuple) and top[0] == "block":
            if text.startswith("*/", i):
                stack.pop()
                i += 2
            elif text.startswith("/*", i):
                stack.append(("block", 0))
                i += 2
            else:
                i += 1
            continue
        if top in ("str", "istr"):
            if not c.isspace():
                mark()
            if c == "\\":
                i += 2
            elif c == '"':
                stack.pop()
                i += 1
            elif top == "istr" and text.startswith("$$", i):
                i += 2
            elif top == "istr" and text.startswith("${", i):
                stack.append(("splice", 0))
                i += 2
            else:
                i += 1
            continue
        if top in ("tstr", "itstr"):
            if not c.isspace():
                mark()
            if text.startswith('"""', i):
                # a run of quotes closes on its last three
                j = i
                while j < n and text[j] == '"':
                    j += 1
                stack.pop()
                i = j
            elif top == "itstr" and text.startswith("$$", i):
                i += 2
            elif top == "itstr" and text.startswith("${", i):
                stack.append(("splice", 0))
                i += 2
            else:
                i += 1
            continue
        # code, or code inside a splice
        if text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            stack.append(("block", 0))
            i += 2
            continue
        if c.isspace():
            i += 1
            continue
        mark()
        if isinstance(top, tuple) and top[0] == "splice":
            if c == "{":
                stack[-1] = ("splice", top[1] + 1)
            elif c == "}":
                if top[1] == 0:
                    stack.pop()
                else:
                    stack[-1] = ("splice", top[1] - 1)
        if c == '"':
            interp = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
            if text.startswith('"""', i):
                stack.append("itstr" if interp else "tstr")
                i += 3
            else:
                stack.append("istr" if interp else "str")
                i += 1
            continue
        if c == "'":
            # a char literal: 'x', '\n', 'A'; anything else is code
            if text.startswith("'\\u", i):
                end = text.find("'", i + 1)
                i = end + 1 if end > 0 else i + 1
            elif text[i + 1:i + 2] == "\\" and text[i + 3:i + 4] == "'":
                i += 4
            elif text[i + 2:i + 3] == "'" and text[i + 1:i + 2] != "\n":
                i += 3
            else:
                i += 1
            continue
        i += 1
    return len(code)


def source_files(path):
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        out.extend(os.path.join(root, f) for f in sorted(files)
                   if f.endswith(SOURCE_EXTS))
    return out


def count_path(path):
    total = 0
    for f in source_files(path):
        with open(f, encoding="utf-8") as fh:
            total += code_lines(fh.read())
    return total


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for p in argv:
        if not os.path.exists(p):
            print(f"no such path: {p}", file=sys.stderr)
            return 2
        k = count_path(p)
        total += k
        print(f"{k}  {p}")
    print(f"{total}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
