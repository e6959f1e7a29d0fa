#!/usr/bin/env python3
"""Line counts for the Scala sources.

    python3 tools/loc.py [repo-root]

Prints, for `src/main/scala` and `src/test/scala`, the raw line count
and the non-comment line count. A non-comment line is one that still
holds code once comments are removed: blank lines, `//` lines and
`/* */` blocks (scaladoc included) do not count. Comment markers
inside string literals are left alone, so a glob like "data/*" in a
string does not open a block.
"""
import os
import sys

SECTIONS = ("src/main/scala", "src/test/scala")


def strip_comments(text):
    """The text with every comment replaced by nothing (newlines kept)."""
    out = []
    i, n = 0, len(text)
    depth = 0  # Scala block comments nest
    while i < n:
        c = text[i]
        two = text[i:i + 2]
        if depth:
            if two == "/*":
                depth += 1
                i += 2
            elif two == "*/":
                depth -= 1
                i += 2
            else:
                if c == "\n":
                    out.append(c)
                i += 1
        elif two == "/*":
            depth = 1
            i += 2
        elif two == "//":
            while i < n and text[i] != "\n":
                i += 1
        elif text[i:i + 3] == '"""':
            end = text.find('"""', i + 3)
            end = n if end < 0 else end + 3
            while end < n and text[end] == '"':  # """a""""" closes late
                end += 1
            out.append(text[i:end])
            i = end
        elif c == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            out.append(text[i:j + 1])
            i = j + 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or
                                         text[i + 1] == "\\"):
            j = text.find("'", i + 2)
            j = n if j < 0 else j
            out.append(text[i:j + 1])
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def count(root):
    raw = code = files = 0
    for d, _, names in os.walk(root):
        for name in names:
            if not name.endswith(".scala"):
                continue
            with open(os.path.join(d, name), encoding="utf-8") as f:
                text = f.read()
            files += 1
            raw += len(text.splitlines())
            code += sum(1 for l in strip_comments(text).splitlines()
                        if l.strip())
    return files, raw, code


def main():
    base = sys.argv[1] if len(sys.argv) > 1 else "."
    print(f"{'section':<16} {'files':>6} {'raw':>7} {'non-comment':>12}")
    for s in SECTIONS:
        files, raw, code = count(os.path.join(base, s))
        print(f"{s:<16} {files:>6} {raw:>7} {code:>12}")


if __name__ == "__main__":
    main()
