#!/usr/bin/env python3
"""List src/main declarations that nothing else in src/main names.

For every `def`, `val`, `var`, `object`, `class` or `trait` declared in
src/main/scala, count the whole-word occurrences of its name across all of
src/main once comments are stripped (string literals are kept, so a name
that only a SQL string or a registry key mentions still counts). A name
that occurs exactly once is its own declaration: nothing in the engine
reaches it. Each such declaration is printed with how often src/test and
perfbench/scala name it, which tells code that only its own spec keeps
alive apart from code that the benchmark harness calls.

Skipped, because the JVM, Spark or Scala syntax calls them by contract:
`override` members, `apply`/`unapply`, `def main`, and the object that
holds a `def main` in a file of its own name.

Usage: python3 scripts/deadcode.py [repo_root]
Output: one `path:line kind name test=N perfbench=M` line per candidate,
then `candidates=K`.
"""
import os
import re
import sys

DECL = re.compile(
    r"(?<![\w.])(override\s+)?(?:(?:private|protected)(?:\[\w+\])?\s+)?"
    r"(?:final\s+|implicit\s+|lazy\s+|case\s+|sealed\s+|abstract\s+)*"
    r"(def|val|var|object|class|trait)\s+([A-Za-z_]\w*)")
CONTRACT = {"main", "apply", "unapply", "unapplySeq"}


def strip_comments(src):
    """Blank out // and (nested) /* */ comments, keeping newlines and
    string literals, so line numbers survive."""
    out = []
    i, n = 0, len(src)
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                if src.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif src.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    if src[i] == "\n":
                        out.append("\n")
                    i += 1
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # closing run: the last three close
                j += 1
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif src[i] == "'" and re.match(r"'(\\.|[^\\'])'", src[i:i + 4]):
            m = re.match(r"'(\\.|[^\\'])'", src[i:i + 4])
            out.append(m.group(0))
            i += len(m.group(0))
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def scala_files(root):
    if not os.path.isdir(root):
        return []
    found = []
    for d, _, names in os.walk(root):
        found += [os.path.join(d, f) for f in names if f.endswith(".scala")]
    return sorted(found)


def load(root):
    return {p: strip_comments(open(p, encoding="utf-8").read()) for p in scala_files(root)}


def word_counts(texts):
    counts = {}
    for text in texts.values():
        for w in re.findall(r"[A-Za-z_]\w*", text):
            counts[w] = counts.get(w, 0) + 1
    return counts


def main():
    repo = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                           os.path.join(os.path.dirname(__file__), ".."))
    main_src = load(os.path.join(repo, "src", "main", "scala"))
    in_main = word_counts(main_src)
    in_test = word_counts(load(os.path.join(repo, "src", "test", "scala")))
    in_bench = word_counts(load(os.path.join(repo, "perfbench", "scala")))
    found = 0
    for path, text in main_src.items():
        base = os.path.splitext(os.path.basename(path))[0]
        has_main = re.search(r"\bdef\s+main\s*\(", text) is not None
        for m in DECL.finditer(text):
            override, kind, name = m.group(1), m.group(2), m.group(3)
            if override or name in CONTRACT or (has_main and kind == "object" and name == base):
                continue
            if in_main.get(name, 0) > 1:
                continue
            line = text.count("\n", 0, m.start(2)) + 1
            print(f"{os.path.relpath(path, repo)}:{line} {kind} {name} "
                  f"test={in_test.get(name, 0)} perfbench={in_bench.get(name, 0)}")
            found += 1
    print(f"candidates={found}")


if __name__ == "__main__":
    main()
