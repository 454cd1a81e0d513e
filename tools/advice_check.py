#!/usr/bin/env python3
"""Round-end ADVICE.md hygiene gate (VERDICT r12 "What's wrong" #1: twice
now a round shipped ADVICE.md listing findings that were already fixed,
sending the next round chasing closed items).

Every finding bullet (`- **sev** path:line — ...`) must carry a
disposition annotation — a line inside the bullet containing one of:

    [FIXED r<N>: <how/where>]
    [WONTFIX r<N>: <why>]
    [DEFERRED r<N>: <tracking note>]

Exit 1 listing any bullet without one. Run this before the round-end
commit; the driver replaces ADVICE.md with fresh advisor output next
round, so annotations never need to survive beyond the round that makes
them.

Second gate: every `*Spec` a `src/main` Scala comment names must be a
`class ...Spec` under `src/test` (a comment saying "XSpec pins this" must
name a test that exists). Names declared in `src/main` itself and Spark's
`WindowSpec` are not test citations and are skipped. Exit 1 listing each
false citation with its file:line.

Third gate: a `src/main` comment that names `Obj.member`, where `Obj` is
an object declared in `src/main`, must name a member declared in a file
that declares `Obj` (a comment still naming a deleted method fails), and
every scaladoc `[[...]]` link must resolve to a declaration in `src/main`.
`.scala` file names, `*` globs and names outside the `graft` packages are
not citations and are skipped. Exit 1 listing each with its file:line.

Usage: python3 tools/advice_check.py [ADVICE.md]
"""
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
SPEC_NAME = re.compile(r"\b([A-Z][A-Za-z0-9]*Spec)\b")
SPEC_DECL = re.compile(r"\b(?:class|object|trait)\s+([A-Z][A-Za-z0-9]*Spec)\b")
NOT_TESTS = {"WindowSpec"}


def declared(tree):
    names = set()
    for f in tree.rglob("*.scala"):
        names.update(SPEC_DECL.findall(f.read_text(encoding="utf-8")))
    return names


def comment_lines(text):
    """Yield (line number, comment text) for // and /* */ comments."""
    in_block = False
    for n, line in enumerate(text.splitlines(), 1):
        rest, out = line, []
        while rest:
            if in_block:
                end = rest.find("*/")
                out.append(rest if end < 0 else rest[:end])
                if end < 0:
                    break
                in_block, rest = False, rest[end + 2:]
            else:
                m = re.search(r'//|/\*|"', rest)
                if not m:
                    break
                if m.group() == '"':
                    close = rest.find('"', m.end())
                    rest = "" if close < 0 else rest[close + 1:]
                elif m.group() == "//":
                    out.append(rest[m.end():])
                    break
                else:
                    in_block, rest = True, rest[m.end():]
        if out:
            yield n, " ".join(out)


def spec_citations():
    main, test = ROOT / "src" / "main", ROOT / "src" / "test"
    known = declared(test) | declared(main) | NOT_TESTS
    bad = []
    for f in sorted(main.rglob("*.scala")):
        for n, c in comment_lines(f.read_text(encoding="utf-8")):
            for name in SPEC_NAME.findall(c):
                if name not in known:
                    bad.append(f"{f.relative_to(ROOT)}:{n}: {name}")
    for b in bad:
        print(f"[advice-check] NO SUCH SPEC: {b}")
    if bad:
        print(f"[advice-check] {len(bad)} comment citation(s) name a *Spec "
              "with no class under src/test — point each at the test that "
              "pins the behaviour, or drop the claim")
        return 1
    print("[advice-check] every *Spec cited in src/main comments exists")
    return 0


DECL = re.compile(r"\b(?:def|val|var|object|class|trait|type)\s+"
                  r"([A-Za-z_][A-Za-z0-9_]*)")
OBJ_DECL = re.compile(r"\bobject\s+([A-Z][A-Za-z0-9_]*)")
# Obj.member, optionally package-qualified; not a glob, not a file name.
MEMBER_REF = re.compile(r"(?<![\w.])((?:[a-z][a-z0-9_]*\.)*)"
                        r"([A-Z][A-Za-z0-9_]*)\.([A-Za-z_][A-Za-z0-9_]*)(?![\w*])")
LINK = re.compile(r"\[\[([^\]\s|]*)")


def main_declarations():
    """(names declared per object, names declared anywhere) in src/main."""
    per_object, anywhere = {}, set()
    for f in (ROOT / "src" / "main").rglob("*.scala"):
        text = f.read_text(encoding="utf-8")
        names = set(DECL.findall(text))
        anywhere |= names
        for obj in OBJ_DECL.findall(text):
            per_object.setdefault(obj, set()).update(names)
    return per_object, anywhere


def member_citations():
    per_object, anywhere = main_declarations()
    bad = []
    for f in sorted((ROOT / "src" / "main").rglob("*.scala")):
        lines = list(comment_lines(f.read_text(encoding="utf-8")))
        for (n, c), (_, nxt) in zip(lines, lines[1:] + [(0, "")]):
            if nxt.lstrip().startswith("."):  # a citation wrapped before ".member"
                c = c.rstrip() + nxt.split()[0]
            for pkg, obj, member in MEMBER_REF.findall(c):
                ours = not pkg or pkg.startswith("graft.")
                if (ours and member != "scala" and obj in per_object
                        and member not in per_object[obj]):
                    bad.append(f"{f.relative_to(ROOT)}:{n}: {pkg}{obj}.{member}")
            for target in LINK.findall(c):
                # Obj.member links were checked above; a link into another
                # project's package is not ours to resolve.
                if "://" in target or MEMBER_REF.search(target) or (
                        target[:1].islower() and "." in target
                        and not target.startswith("graft.")):
                    continue
                if target.rstrip("()#").split(".")[-1] not in anywhere:
                    bad.append(f"{f.relative_to(ROOT)}:{n}: [[{target}]]")
    for b in bad:
        print(f"[advice-check] NO SUCH MEMBER: {b}")
    if bad:
        print(f"[advice-check] {len(bad)} comment citation(s) name a member "
              "or link target that src/main does not declare — point each "
              "at what exists, or drop the claim")
        return 1
    print("[advice-check] every Obj.member and [[link]] in src/main comments resolves")
    return 0


def advice(path):
    try:
        text = open(path, encoding="utf-8").read()
    except FileNotFoundError:
        print(f"[advice-check] {path} not found — nothing to gate")
        return 0
    # Split into top-level bullets ("- **sev** ..."), each of which may span
    # continuation lines (indented `_remedy_` lines, annotations).
    bullets = re.split(r"(?m)^(?=- \*\*)", text)
    findings = [b for b in bullets if b.startswith("- **")]
    if not findings:
        print(f"[advice-check] {path}: no finding bullets — clean")
        return 0
    marker = re.compile(r"\[(FIXED|WONTFIX|DEFERRED) r\d+:")
    open_items = [b for b in findings if not marker.search(b)]
    for b in open_items:
        head = b.splitlines()[0]
        print(f"[advice-check] UNANNOTATED: {head[:120]}")
    if open_items:
        print(f"[advice-check] {len(open_items)}/{len(findings)} finding(s) "
              "lack a [FIXED/WONTFIX/DEFERRED rN: ...] annotation — "
              "annotate before the round-end commit")
        return 1
    print(f"[advice-check] {path}: all {len(findings)} finding(s) annotated")
    return 0


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else str(ROOT / "ADVICE.md")
    return max(advice(path), spec_citations(), member_citations())


if __name__ == "__main__":
    sys.exit(main())
