#!/usr/bin/env python3
"""Name-level reachability walk over the main Scala sources.

The walk starts from the entry points: graft.Main, graft.server.RestServer,
graft.Bench, graft.Verify, graft.SparkEntry, graft.plans.GraftExtensions,
the data sources registered in META-INF/services and every perfbench
source. From each reached file it follows every identifier of its code
(comments and string literals left out) to the files that define a class,
object, trait or type of that name, and it prints each main file that no
path reaches, with its line count.

Matching is by simple name, so a name defined in two files reaches both:
every file printed is unreached, but a file left out may still be dead
(a shared name such as `Between` can hide one). Confirm a file by hand
before acting on it. The script only reports; it deletes nothing.

Usage: python3 tools/reach.py [repo root]
"""
import pathlib
import re
import sys

ROOTS = ["graft.Main", "graft.server.RestServer", "graft.Bench", "graft.Verify",
         "graft.SparkEntry", "graft.plans.GraftExtensions"]
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEFINES = re.compile(r"\b(?:class|object|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)")
PACKAGE = re.compile(r"^\s*package\s+([A-Za-z0-9_.]+)\s*$", re.M)


def code(text, i=0, nested=False):
    """`text` with comments and string contents blanked; the `${...}` and
    `$name` parts of interpolated strings stay, as they are code. Nested,
    it reads one `${...}` body and returns it with the index past its `}`."""
    out, n, depth = [], len(text), 0
    while i < n:
        c = text[i]
        if text.startswith("//", i):
            i = text.find("\n", i)
            i = n if i < 0 else i
        elif text.startswith("/*", i):
            level, i = 1, i + 2  # Scala block comments nest
            while i < n and level:
                if text.startswith("/*", i):
                    level, i = level + 1, i + 2
                elif text.startswith("*/", i):
                    level, i = level - 1, i + 2
                else:
                    i += 1
        elif c == '"':
            interpolated = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
            quote = '"""' if text.startswith('"""', i) else '"'
            i += len(quote)
            while i < n and not text.startswith(quote, i):
                if quote == '"' and text[i] == "\\":
                    i += 2
                elif interpolated and text.startswith("${", i):
                    body, i = code(text, i + 2, nested=True)
                    out.append(" " + body + " ")
                elif interpolated and text[i] == "$" and IDENT.match(text, i + 1):
                    m = IDENT.match(text, i + 1)
                    out.append(" " + m.group(0) + " ")
                    i = m.end()
                else:
                    i += 1
            i += len(quote)
            out.append(" ")
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            i = text.find("'", i + 2) + 1 or n  # a char literal
        elif nested and c == "}" and depth == 0:
            return "".join(out), i + 1
        else:
            depth += {"{": 1, "}": -1}.get(c, 0)
            out.append(c)
            i += 1
    return ("".join(out), n) if nested else "".join(out)


def main():
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".").resolve()
    main_files = sorted((root / "src/main/scala").rglob("*.scala"))
    bench_files = sorted((root / "perfbench/src/main/scala").rglob("*.scala"))
    files = {}
    for f in main_files + bench_files:
        src = code(f.read_text(encoding="utf-8"))
        files[f] = (".".join(PACKAGE.findall(src)), set(DEFINES.findall(src)), set(IDENT.findall(src)))
    definers = {}
    for f, (_, defs, _) in files.items():
        for d in defs:
            definers.setdefault(d, set()).add(f)

    services = root / "src/main/resources/META-INF/services"
    roots = ROOTS + [line.strip() for s in sorted(services.glob("*")) if s.is_file()
                     for line in s.read_text().splitlines()
                     if line.strip() and not line.lstrip().startswith("#")]
    start = set(bench_files)
    for fqn in roots:
        pkg, _, name = fqn.rpartition(".")
        found = {f for f in definers.get(name, ()) if files[f][0] == pkg}
        if not found:
            sys.exit(f"reach.py: entry point {fqn} is defined in no main file")
        start |= found

    reached, todo = set(start), list(start)
    while todo:
        for name in files[todo.pop()][2]:
            for g in definers.get(name, ()):
                if g not in reached:
                    reached.add(g)
                    todo.append(g)

    unreached = [f for f in main_files if f not in reached]
    lines = 0
    for f in unreached:
        n = len(f.read_text(encoding="utf-8").splitlines())
        lines += n
        print(f"{n:6d}  {f.relative_to(root)}")
    print(f"{len(unreached)} of {len(main_files)} main files unreached ({lines} lines)")


if __name__ == "__main__":
    main()
