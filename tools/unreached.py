#!/usr/bin/env python3
"""List the public members of src/main that nothing in the program names.

A member is a top-level class, trait or object of src/main/scala, or a
public def, val, var, type, class or object in the body of a top-level
object. The comment-stripped code of src/main/scala and perfbench/ is
searched for a use of it: `Owner.member` anywhere, or `member` in the
owner's own file or in a file that imports it from `Owner`; a top-level
type's name anywhere. A member's own definition is not a use. String
literals count as code, so a class named in a conf value
(`fs.file.impl`) is reached. Objects that define `def main` are entry
points and are left out, with their members.

The scan matches names, not symbols, so it can count a same-named
member of the owner's file as a use. It finds members with no caller
at all, not every member that no entry point reaches; run it again
after a deletion to find what only the deleted code called.

Usage, from the repo root:

    python3 tools/unreached.py

Prints one `Owner.member` (or `Type`) per line, sorted; nothing when
every member is named somewhere.
"""
import os
import re
import sys

ROOTS = ["src/main/scala", "perfbench"]
CODE_SUFFIXES = (".scala", ".py")

DEF_RE = re.compile(
    r"\b(?:def|val|var|lazy\s+val|type|class|object|trait)\s+"
    r"(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)")
MODIFIER_RE = re.compile(
    r"^(?:(?:final|sealed|abstract|case|lazy|implicit|override|private"
    r"(?:\[[^\]]*\])?|protected(?:\[[^\]]*\])?|inline)\s+)*")
WORD_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def strip_scala(src):
    """Blank out comments, keeping strings and line structure."""
    out, i, n = [], 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append("".join("\n" if ch == "\n" else " " for ch in src[i:j]))
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            out.append(src[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or
                                         (src[i + 1] == "\\" and "'" in src[i + 2:i + 8])):
            j = src.find("'", i + 2 if src[i + 1] == "\\" else i + 1)
            out.append(src[i:j + 1])
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def strip_python(src):
    return "\n".join(re.sub(r"(^|\s)#.*$", "", line) for line in src.split("\n"))


def read_code(root):
    code = {}
    for base in ROOTS:
        for d, _, files in os.walk(os.path.join(root, base)):
            for f in sorted(files):
                if f.endswith(CODE_SUFFIXES):
                    p = os.path.join(d, f)
                    with open(p, encoding="utf-8") as fh:
                        src = fh.read()
                    code[p] = strip_scala(src) if f.endswith(".scala") else strip_python(src)
    return code


def definitions(code):
    """Yield (owner, name) for the public members of one file's code.

    `owner` is None for a top-level type. Braces track depth; a
    member counts when it sits directly in a top-level object's body.
    """
    found, mains = [], set()
    depth, owner = 0, None
    for t in re.finditer(r"[{}]|" + DEF_RE.pattern, code):
        tok = t.group(0)
        if tok == "{":
            depth += 1
            continue
        if tok == "}":
            depth -= 1
            if depth == 0:
                owner = None
            continue
        kind, name = tok.split()[0], t.group(1).strip("`")
        prefix = code[code.rfind("\n", 0, t.start()) + 1:t.start()].strip()
        if prefix and MODIFIER_RE.match(prefix + " ").end() < len(prefix):
            continue  # the keyword is not where a definition starts
        hidden = re.search(r"\b(private|protected|override|implicit)\b", prefix)
        if depth == 0 and kind in ("class", "object", "trait"):
            owner = name if kind == "object" else None
            if not hidden:
                found.append((None, name))
        elif depth == 1 and owner is not None:
            if kind == "def" and name == "main":
                mains.add(owner)
            elif not hidden and name != "apply":
                found.append((owner, name))
    for owner, name in found:
        if (owner or name) not in mains:
            yield owner, name


def uses(text, sites):
    """The words of `text` that are not a definition's name."""
    return {w.group(0) for w in WORD_RE.finditer(text) if w.start() not in sites}


def main():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    main_dir = os.path.join(root, "src/main/scala")
    code = read_code(root)
    words = {p: uses(t, {m.start(1) for m in DEF_RE.finditer(t)})
             for p, t in code.items()}
    every_word = set().union(*words.values())

    def reached(path, owner, name):
        if owner is None:
            return name in every_word
        n = re.escape(name)
        qualified_or_imported = re.compile(
            r"\b%s\s*\.\s*%s\b|\bimport\s+[\w.]*\b%s\.(?:_|%s\b|\{[^}]*\b%s\b)"
            % (owner, n, owner, n, n))
        return any(p == path or qualified_or_imported.search(t)
                   for p, t in code.items() if name in words[p])

    unreached = sorted({
        f"{owner}.{name}" if owner else name
        for path, text in code.items() if path.startswith(main_dir + os.sep)
        and path.endswith(".scala")
        for owner, name in definitions(text)
        if not reached(path, owner, name)})
    for u in unreached:
        print(u)
    return 0


if __name__ == "__main__":
    sys.exit(main())
