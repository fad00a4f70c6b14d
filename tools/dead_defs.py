#!/usr/bin/env python3
"""List `def`s under src/main/scala that nothing calls, and stale links.

A def counts as called when its name appears in code anywhere in
src/, perfbench/src or tools/ other than on the lines that define it.
Comments of Scala and Java sources (`//`, `/* */`, Scaladoc) are not
code: a def whose name survives only in prose or in a Scaladoc link
is dead. Overrides are skipped, and so are the callbacks in ALLOWED
that the JVM or Spark calls by name.

A Scaladoc link `[[...]]` under src/main/scala is stale when its final
name is no def, val, var, class, object, trait, type or package
declared anywhere in those roots. Links qualified outside `graft.`
point at other libraries and are not checked. A stale link compiles
silently, so a deleted or renamed name would otherwise stay linked.

Usage: python3 tools/dead_defs.py   (from the repository root)
Prints one `path:line: def name` or `path:line: link [[target]]` per
finding and exits 1 if any.
"""
import collections
import os
import re
import sys

SCAN_ROOTS = ["src", "perfbench/src", "tools"]
DEF_ROOT = "src/main/scala"

# Called by the JVM or Spark, not by name from this code base: file
# (None = any file) -> def names.
ALLOWED = {
    # entry points and Java serialization hooks
    None: {"main", "writeObject", "readObject"},
    # DSv2 batch and streaming interfaces
    "src/main/scala/graft/sources/OsmFileSource.scala": {
        "shortName", "inferSchema", "getTable", "name", "schema", "capabilities",
        "newScanBuilder", "pruneColumns", "pushFilters", "pushedFilters", "build",
        "readSchema", "toBatch", "description", "planInputPartitions",
        "createReaderFactory", "toMicroBatchStream", "initialOffset", "latestOffset",
        "deserializeOffset", "commit", "stop", "createReader", "next", "get", "close",
        "json"},
}

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEF = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
DECL = re.compile(r"\b(?:def|val|var|class|object|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)")
PACKAGE = re.compile(r"^\s*package\s+([A-Za-z_][A-Za-z0-9_.]*)", re.M)
LINK = re.compile(r"\[\[([^\]\s]+)[^\]]*\]\]")
# where a comment, string or character literal may start
LEXEME = re.compile(r'"""|"|//|/\*|\'')
CHAR = re.compile(r"'(?:\\[^'\n]*|[^'\\\n])'")


def source_files(root):
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x != "target" and not x.startswith(".")]
        for f in files:
            yield os.path.join(d, f)


def read_text(path):
    try:
        with open(path, encoding="utf-8") as fh:
            return fh.read()
    except (UnicodeDecodeError, OSError):
        return None  # binary data, e.g. parquet fixtures


def code_only(text, nested):
    """`text` with its comments blanked out, newlines kept so line
    numbers stay. String and character literals are code (a `//` in a
    URL string starts no comment); `nested` block comments are Scala's."""
    out = []
    i = 0
    n = len(text)
    while True:
        m = LEXEME.search(text, i)
        if m is None:
            out.append(text[i:])
            return "".join(out)
        out.append(text[i:m.start()])
        i = m.start()
        tok = m.group()
        if tok == '"""':
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
        elif tok == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            j = min(j + 1, n)
        elif tok == "'":
            c = CHAR.match(text, i)
            j = c.end() if c else i + 1
        elif tok == "//":
            j = text.find("\n", i)
            i = j = n if j < 0 else j
        else:  # block comment
            depth, j = 0, i
            while j < n:
                if text.startswith("/*", j) and (nested or depth == 0):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                    if depth == 0:
                        break
                else:
                    j += 1
            out.append("\n" * text.count("\n", i, j))
            i = j
        out.append(text[i:j])
        i = j


def link_name(target):
    """Final name a link resolves by, or None for another library's."""
    parts = re.split(r"[.#]", target.rstrip("()$!"))
    if len(parts) > 1 and parts[0] != "graft":
        return None
    return parts[-1]


def main():
    uses = collections.Counter()
    defs = collections.defaultdict(list)  # name -> [(path, line)]
    declared = set()
    links = []  # (path, line, target)
    for root in SCAN_ROOTS:
        for path in source_files(root):
            text = read_text(path)
            if text is None:
                continue
            code = (code_only(text, path.endswith(".scala"))
                    if path.endswith((".scala", ".java")) else text)
            uses.update(IDENT.findall(code))
            if path.endswith(".scala"):
                declared.update(DECL.findall(code))
                for pkg in PACKAGE.findall(code):
                    declared.update(pkg.split("."))
            if not (path.startswith(DEF_ROOT + os.sep) and path.endswith(".scala")):
                continue
            for n, line in enumerate(text.splitlines(), 1):
                links.extend((path, n, m.group(1)) for m in LINK.finditer(line))
            for n, line in enumerate(code.splitlines(), 1):
                for m in DEF.finditer(line):
                    name = m.group(1)
                    allowed = ALLOWED[None] | ALLOWED.get(path.replace(os.sep, "/"), set())
                    if "override" in line[:m.start()].split() or name in allowed or name == "this":
                        continue
                    defs[name].append((path, n))
    dead = sorted((path, n, name) for name, sites in defs.items()
                  if uses[name] <= len(sites) for path, n in sites)
    stale = [(path, n, target) for path, n, target in links
             if link_name(target) not in declared and link_name(target) is not None]
    for path, n, name in dead:
        print(f"{path}:{n}: def {name}")
    for path, n, target in stale:
        print(f"{path}:{n}: link [[{target}]]")
    return 1 if dead or stale else 0


if __name__ == "__main__":
    sys.exit(main())
