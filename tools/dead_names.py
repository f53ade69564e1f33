#!/usr/bin/env python3
"""Name-level scan for Scala definitions without a product caller.

Lists every visible `def`, `val`, `class`, `object` and `trait` name
defined under src/main and classifies it by where else the name occurs:

    NOCALLER  the name occurs nowhere but at its own definition sites
    TESTONLY  the name occurs again only under src/test
    KEPT      the name is on the allowlist (dead_names_allow.txt), with
              the verdict recorded there

A use under src/main or pipebench/src counts as a product caller. Names
are matched as bare tokens, so an overloaded or shared name (`apply`,
`name`, `fit`) reads as used wherever any namesake is: the scan can miss
dead code, never invent it. Comments are skipped; string literals are
skipped except the `$name` and `${...}` parts of interpolated strings.
Members marked `private`, `protected`, `override` or `implicit` are not
listed (the compiler or the supertype reaches them); `private[pkg]`
members are.

Each file is tokenized once. Usage, from the checkout root:

    python3 tools/dead_names.py [--all]

`--all` also prints the KEPT names. Exits 1 when a NOCALLER or TESTONLY
name is not on the allowlist, 0 otherwise: src/main keeps no surface
that only tests reach unless the allowlist records why.
"""
import collections
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ALLOWLIST = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "dead_names_allow.txt")
AREAS = (("main", "src/main"), ("test", "src/test"), ("bench", "pipebench/src"))
DEF_KEYWORDS = {"def", "val", "class", "object", "trait"}
MODIFIERS = {"private", "protected", "override", "final", "sealed", "abstract",
             "implicit", "lazy", "case"}
HIDDEN = {"private", "protected", "override", "implicit"}
# called through language syntax, not by name
IMPLICIT_NAMES = {"apply", "unapply", "unapplySeq", "update"}


def is_id_start(c):
    return c.isalpha() or c == "_"


def is_id_char(c):
    return c.isalnum() or c == "_"


class Lexer:
    """Identifier and punctuation tokens of one Scala source, as
    (text, line) pairs; comments and string bodies are dropped."""

    def __init__(self, src):
        self.s = src
        self.i = 0
        self.line = 1
        self.toks = []

    def emit(self, text):
        self.toks.append((text, self.line))

    def advance(self, n=1):
        self.line += self.s.count("\n", self.i, self.i + n)
        self.i += n

    def run(self, until_brace=False):
        s, depth = self.s, 0
        while self.i < len(s):
            c = s[self.i]
            if c == "/" and s.startswith("//", self.i):
                end = s.find("\n", self.i)
                self.advance((len(s) if end < 0 else end) - self.i)
            elif c == "/" and s.startswith("/*", self.i):
                self.block_comment()
            elif c == '"':
                interp = self.i > 0 and is_id_char(s[self.i - 1])
                self.string(interp)
            elif c == "'":
                self.char_literal()
            elif c == "`":
                end = s.find("`", self.i + 1)
                self.emit(s[self.i + 1:end])
                self.advance(end + 1 - self.i)
            elif is_id_start(c):
                j = self.i
                while j < len(s) and is_id_char(s[j]):
                    j += 1
                self.emit(s[self.i:j])
                self.advance(j - self.i)
            elif c.isdigit():
                j = self.i
                while j < len(s) and (is_id_char(s[j]) or
                                      (s[j] == "." and j + 1 < len(s) and s[j + 1].isdigit())):
                    j += 1
                self.advance(j - self.i)
            elif c.isspace():
                self.advance()
            else:
                if until_brace:
                    if c == "{":
                        depth += 1
                    elif c == "}":
                        if depth == 0:
                            self.advance()
                            return
                        depth -= 1
                self.emit(c)
                self.advance()

    def block_comment(self):
        s, depth = self.s, 0
        while self.i < len(s):
            if s.startswith("/*", self.i):
                depth += 1
                self.advance(2)
            elif s.startswith("*/", self.i):
                depth -= 1
                self.advance(2)
                if depth == 0:
                    return
            else:
                self.advance()

    def string(self, interp):
        s = self.s
        triple = s.startswith('"""', self.i)
        self.advance(3 if triple else 1)
        while self.i < len(s):
            c = s[self.i]
            if triple and s.startswith('"""', self.i):
                j = self.i + 3
                while j < len(s) and s[j] == '"':  # """"" closes on the last three
                    j += 1
                self.advance(j - self.i)
                return
            if not triple and c == '"':
                self.advance()
                return
            if not triple and c == "\\":
                self.advance(2)
            elif interp and c == "$":
                nxt = s[self.i + 1] if self.i + 1 < len(s) else ""
                if nxt == "{":
                    self.advance(2)
                    self.run(until_brace=True)
                elif is_id_start(nxt):
                    j = self.i + 1
                    while j < len(s) and is_id_char(s[j]):
                        j += 1
                    self.emit(s[self.i + 1:j])
                    self.advance(j - self.i)
                else:
                    self.advance(2 if nxt == "$" else 1)
            else:
                self.advance()

    def char_literal(self):
        s = self.s
        if s.startswith("\\u", self.i + 1):
            end = s.find("'", self.i + 2)
            self.advance(end + 1 - self.i)
        elif s.startswith("\\", self.i + 1):
            self.advance(4)
        elif self.i + 2 < len(s) and s[self.i + 2] == "'":
            self.advance(3)
        else:  # a symbol literal: the name follows as an identifier
            self.advance()


def definitions(toks):
    """(name, line, owner, package) per visible definition in `toks`."""
    out = []
    package, owner, depth = "", None, 0
    for i, (t, line) in enumerate(toks):
        if t == "{":
            depth += 1
        elif t == "}":
            depth -= 1
        elif t == "package" and i + 1 < len(toks) and toks[i + 1][0] != "object":
            j, parts = i + 1, []
            while j < len(toks) and (toks[j][0] == "." or is_id_start(toks[j][0][0])):
                if toks[j][0] != ".":
                    parts.append(toks[j][0])
                j += 1
                if j < len(toks) and toks[j][1] != line:
                    break
            package = ".".join(filter(None, [package] + parts))
        if t not in DEF_KEYWORDS or i + 1 >= len(toks):
            continue
        name = toks[i + 1][0]
        if not is_id_start(name[0]) or name in IMPLICIT_NAMES:
            continue
        mods, j = set(), i - 1
        while j >= 0:
            p = toks[j][0]
            if p in MODIFIERS:
                mods.add(p)
                j -= 1
            elif p == "]":
                k = j
                while k >= 0 and toks[k][0] != "[":
                    k -= 1
                if k > 0 and toks[k - 1][0] in ("private", "protected"):
                    mods.add(toks[k - 1][0] + "[]")
                    j = k - 2
                else:
                    break
            elif j > 0 and toks[j - 1][0] == "@":
                j -= 2
            else:
                break
        if t in ("class", "object", "trait") and depth == 0:
            owner = name
        if mods & HIDDEN:
            continue
        out.append((name, line, None if depth == 0 else owner, package))
    return out


def scala_files(rel):
    for dirpath, _, files in os.walk(os.path.join(ROOT, rel)):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(dirpath, f)


def load_allowlist():
    allow = {}
    if os.path.exists(ALLOWLIST):
        with open(ALLOWLIST, encoding="utf-8") as fh:
            for raw in fh:
                line = raw.strip()
                if line and not line.startswith("#"):
                    key, _, verdict = line.partition(" ")
                    allow[key] = verdict.strip()
    return allow


def main(argv):
    show_all = "--all" in argv
    counts = {area: collections.Counter() for area, _ in AREAS}
    defs = []  # (name, file, line, owner, package)
    def_counts = {area: collections.Counter() for area, _ in AREAS}
    for area, rel in AREAS:
        for path in scala_files(rel):
            with open(path, encoding="utf-8") as fh:
                lexer = Lexer(fh.read())
            lexer.run()
            counts[area].update(t for t, _ in lexer.toks)
            file_defs = definitions(lexer.toks)
            def_counts[area].update(n for n, *_ in file_defs)
            if area == "main":
                rp = os.path.relpath(path, ROOT)
                defs.extend((n, rp, ln, ow, pk) for n, ln, ow, pk in file_defs)

    allow = load_allowlist()
    used_keys = set()
    rows = []
    for name, path, line, owner, package in defs:
        product = (counts["main"][name] - def_counts["main"][name]
                   + counts["bench"][name] - def_counts["bench"][name])
        if product > 0:
            continue
        tests = counts["test"][name] - def_counts["test"][name]
        status = "TESTONLY" if tests > 0 else "NOCALLER"
        qual = f"{owner}.{name}" if owner else f"{package}.{name}"
        key = next((k for k in (qual, name) if k in allow), None)
        if key:
            used_keys.add(key)
            status = "KEPT"
        rows.append((status, qual, f"{path}:{line}", allow.get(key, "")))

    order = {"NOCALLER": 0, "TESTONLY": 1, "KEPT": 2}
    rows.sort(key=lambda r: (order[r[0]], r[2]))
    for status, qual, where, verdict in rows:
        if status != "KEPT" or show_all:
            tail = f"  # {verdict}" if verdict else ""
            print(f"{status:8}  {qual:52}  {where}{tail}")
    for key in sorted(set(allow) - used_keys):
        print(f"STALE     {key:52}  allowlist entry matches no unused name")
    tally = collections.Counter(r[0] for r in rows)
    print(f"# {tally['NOCALLER']} NOCALLER, {tally['TESTONLY']} TESTONLY, "
          f"{tally['KEPT']} KEPT over {len(defs)} visible src/main definitions")
    return 1 if tally["NOCALLER"] or tally["TESTONLY"] else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
