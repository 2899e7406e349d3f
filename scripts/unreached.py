#!/usr/bin/env python3
"""Public library code that nothing but its own definition names.

    python3 scripts/unreached.py [ROOT]

Reads every .scala file under src/main and perfbench/src of ROOT
(default: the repository holding this script; the git-ignored
graft/scratch drive is skipped) once and counts each identifier token,
in code, comments and strings alike. It prints each member `def`,
`val`, `var`, `class`, `object` or `trait` of src/main (SparkEntry.scala excepted: its members
are the gate table) that is not `private`, `protected` or an `override`,
and whose name occurs no more often than it is defined, so that only its
own definitions name it. Every definition of a name counts as a
definition, not a use: private ones and those of perfbench too. Local
definitions inside a method body and members of an anonymous class are
not members here. Tests are not read, so a definition that only its own
specs reach is listed. A mention in a comment counts as a use, so a
def that only its scaladoc neighbours and its specs name is not listed.

Expected output, with the reason each entry stays:
  - RedshiftAutoSchema's paper API methods (`checkSchemaExistence`,
    `generateSchemaDdl`, ...): the facade is the library's public
    surface, called by users and its spec, not by other modules;
  - `RedshiftType.fromName`: the inverse of `name`, held by
    TypeClassSpec's round-trip test;
  - `Scale.zorderWrite`: its ScaleSpec pruning test is the only
    evidence that q70's `zorderKey` prunes on two dimensions;
  - `TopK.TopKAgg.bufferEncoder` and `outputEncoder`: abstract members
    of Spark's `Aggregator`, called by Spark.
Anything else it prints is a candidate for deletion.
"""
import re
import sys
from collections import Counter
from pathlib import Path

KEYWORDS = {"def", "val", "var", "class", "object", "trait"}
TEMPLATES = {"class", "object", "trait"}
MODIFIERS = {"final", "case", "implicit", "lazy", "sealed", "abstract",
             "private", "protected", "override"}
HIDDEN = {"private", "protected", "override"}
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*|`[^`\n]+`")


def tokens(src: str) -> list:
    """Identifier and brace tokens of the code of Scala source, as
    (token, line): comments and string literals are skipped, the code
    of an interpolated string's `${...}` is not."""
    out, i, n, line, depth = [], 0, len(src), 1, 0
    # (brace depth, triple-quoted) of each open `${` of an interpolated
    # string: its `}` at that depth resumes the string body
    interp = []

    def string(i: int, triple: bool, interpolated: bool) -> int:
        """Skip a string body from i: to just after its closing quote,
        or into the code of its next `${`."""
        nonlocal line, depth
        close = '"""' if triple else '"'
        while i < n:
            if src.startswith(close, i):
                if triple:  # a run of quotes ends on its last three
                    while src.startswith('""""', i):
                        i += 1
                return i + len(close)
            if src[i] == "\n":
                line += 1
            if src[i] == "\\" and not triple:
                i += 2
            elif interpolated and src.startswith("$$", i):
                i += 2
            elif interpolated and src.startswith("${", i):
                interp.append((depth, triple))
                depth += 1
                return i + 2
            else:
                i += 1
        return i

    while i < n:
        c = src[i]
        if c == "\n":
            line += 1
            i += 1
        elif src.startswith("//", i):
            i = src.find("\n", i)
            i = n if i < 0 else i
        elif src.startswith("/*", i):
            nest, i = 1, i + 2
            while i < n and nest:
                if src.startswith("/*", i):
                    nest, i = nest + 1, i + 2
                elif src.startswith("*/", i):
                    nest, i = nest - 1, i + 2
                else:
                    line += src[i] == "\n"
                    i += 1
        elif c == '"' or (IDENT.match(src, i) and
                          src.startswith('"', IDENT.match(src, i).end())):
            interpolated = c != '"'
            if interpolated:
                i = IDENT.match(src, i).end()
            triple = src.startswith('"""', i)
            i = string(i + (3 if triple else 1), triple, interpolated)
        elif c == "'" and re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4]):
            i += re.match(r"'(\\.|[^\\'\n])'", src[i:i + 4]).end()
        elif c == "{":
            out.append(("{", line))
            depth += 1
            i += 1
        elif c == "}":
            depth -= 1
            i += 1
            if interp and interp[-1][0] == depth:
                i = string(i, interp.pop()[1], True)
            else:
                out.append(("}", line))
        else:
            m = IDENT.match(src, i)
            if m:
                out.append((m.group(0), line))
                i = m.end()
            elif c in "[]":
                out.append((c, line))
                i += 1
            else:
                i += 1
    return out


def definitions(toks: list) -> list:
    """(name, line, listed) of each definition in a token list; `listed`
    when it is a member that is not private, protected or an override."""
    defs, stack, pending = [], [], None
    for k, (t, line) in enumerate(toks):
        if t == "{":
            stack.append(pending or "block")
            pending = None
        elif t == "}":
            if stack:
                stack.pop()
            pending = None
        elif t == "new":
            pending = "anon"
        elif t in KEYWORDS and k + 1 < len(toks):
            pending = "template" if t in TEMPLATES else None
            name = toks[k + 1][0]
            if not IDENT.fullmatch(name) or name in KEYWORDS:
                continue
            j, mods = k - 1, set()
            while j >= 0:
                tj = toks[j][0]
                if tj == "]":  # private[pkg]
                    while j >= 0 and toks[j][0] != "[":
                        j -= 1
                elif tj in MODIFIERS:
                    mods.add(tj)
                elif tj != "[":
                    break
                j -= 1
            member = not stack or stack[-1] == "template"
            defs.append((name.strip("`"), line,
                         member and not mods & HIDDEN))
    return defs


def main():
    root = Path(sys.argv[1]) if len(sys.argv) > 1 \
        else Path(__file__).resolve().parent.parent
    files = [p for d in ("src/main", "perfbench/src")
             for p in sorted((root / d).rglob("*.scala"))
             if "scratch" not in p.relative_to(root).parts]
    uses, defined, sites = Counter(), Counter(), []
    for p in files:
        rel, text = p.relative_to(root), p.read_text()
        uses.update(w.strip("`") for w in IDENT.findall(text))
        listable = rel.parts[:2] == ("src", "main") \
            and p.name != "SparkEntry.scala"
        for name, line, listed in definitions(tokens(text)):
            defined[name] += 1
            if listable and listed:
                sites.append((rel, line, name))
    for rel, line, name in sites:
        if uses[name] <= defined[name]:
            print(f"{rel}:{line}: {name}")


if __name__ == "__main__":
    main()
