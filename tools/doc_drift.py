#!/usr/bin/env python3
"""Doc-drift check (dev tool, not part of the engine): the README (and
SURVEY) enumerate query ids by hand, and at 153+ registered queries those
lists WILL drift from the actual registry. This script extracts

  - the registry: every `QueryDef("<name>", ...)` in src/main/scala
    (the single source of truth `SparkEntry.queries` is assembled from),
  - the docs: every short id (`q42`, `d7`, `mm3`, ...) or full key
    (`q1_agg`) mentioned in README.md / SURVEY.md, expanding `d1..d15`
    and en-dash `s2–s13` ranges,

and fails (exit 1) when:
  1. a registry id is never mentioned in README.md (coverage gap),
  2. README.md or SURVEY.md mentions an id that is not in the registry
     (phantom id -- a typo or a renamed/removed query), or
  3. a backticked `Object.member` in README.md or SURVEY.md names no
     `def`/`val`/`var` `member` in a src/main/scala file that declares
     `object`/`class`/`trait` `Object` (phantom reference -- a renamed
     or deleted member). `NAME.md`-style file names are not references.
  4. a scaladoc link `[[name]]` / `[[a.b.Name]]` in src/main/scala names
     no `def`/`val`/`class`/`object`/`trait`/`type` in src/main/scala
     (dangling link -- a renamed or deleted member). A dotted link whose
     owner segment is capitalized must resolve in a file that declares
     that owner.

SURVEY.md is phantom-checked only: it is the design blueprint, and its
§2 tables cite ids and members as evidence -- citing a nonexistent id
or member is drift, but it is not required to enumerate every id the
registry later grew.

Usage: python3 tools/doc_drift.py [repo_root]
"""
import re
import sys
from pathlib import Path

ID_RE = re.compile(r"\b(mm|q|d|e|s|m)(\d+)\b")
RANGE_RE = re.compile(r"\b(mm|q|d|e|s|m)(\d+)\s*(?:\.\.|–)\s*(?:mm|q|d|e|s|m)?(\d+)\b")


def registry_ids(root: Path) -> dict:
    """short id -> full registry key, from QueryDef registrations."""
    keys = set()
    for f in (root / "src" / "main" / "scala").rglob("*.scala"):
        keys.update(re.findall(r'QueryDef\("([a-z0-9_]+)"', f.read_text()))
    out = {}
    key_re = re.compile(r"^(mm|q|d|e|s|m)(\d+)_")
    for k in keys:
        m = key_re.match(k)
        if not m:
            sys.exit(f"FAIL: registry key {k!r} has no recognizable short id")
        out[m.group(1) + m.group(2)] = k
    if len(out) != len(keys):
        sys.exit("FAIL: two registry keys share a short id")
    return out


def doc_ids(path: Path) -> set:
    text = path.read_text()
    ids = set()
    for pre, lo, hi in RANGE_RE.findall(text):
        ids.update(f"{pre}{n}" for n in range(int(lo), int(hi) + 1))
    ids.update(pre + num for pre, num in ID_RE.findall(text))
    return ids


REF_RE = re.compile(r"`([A-Z][A-Za-z0-9]*)\.([a-z][A-Za-z0-9_]*)`")
FILE_EXTS = {"md", "rst", "scala", "py", "json", "jsonl", "sh", "sbt", "txt"}


def phantom_refs(root: Path, path: Path) -> list:
    """`Object.member` references in `path` that no src/main file declares."""
    refs = {r for r in REF_RE.findall(path.read_text()) if r[1] not in FILE_EXTS}
    sources = [f.read_text() for f in (root / "src" / "main" / "scala").rglob("*.scala")]
    out = []
    for obj, member in sorted(refs):
        decl = re.compile(rf"\b(?:object|class|trait)\s+{obj}\b")
        defn = re.compile(rf"\b(?:def|val|var)\s+{member}\b")
        if not any(decl.search(t) and defn.search(t) for t in sources):
            out.append(f"{obj}.{member}")
    return out


LINK_RE = re.compile(r"\[\[([^\]]+)\]\]")


def dangling_links(root: Path) -> list:
    """`file: [[link]]` for every scaladoc link in src/main/scala that
    names no declaration there."""
    files = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    sources = [f.read_text() for f in files]
    out = []
    for f, text in zip(files, sources):
        # a link may wrap across scaladoc lines (`[[Sampling\n * .shaBucket]]`)
        links = {re.sub(r"\s*\n\s*\*?\s*", "", l) for l in LINK_RE.findall(text)}
        for link in sorted(links):
            parts = link.split(".")
            defn = re.compile(rf"\b(?:def|val|class|object|trait|type)\s+{re.escape(parts[-1])}\b")
            if len(parts) > 1 and parts[-2][:1].isupper():
                owner = re.compile(rf"\b(?:object|class|trait)\s+{re.escape(parts[-2])}\b")
                ok = any(owner.search(s) and defn.search(s) for s in sources)
            else:
                ok = any(defn.search(s) for s in sources)
            if not ok:
                out.append(f"{f.relative_to(root)}: [[{link}]]")
    return out


COUNT_CLAIM_RE = re.compile(r"\*\*(\d+) registered queries, (\d+) with DuckDB oracles")


def main() -> int:
    root = Path(sys.argv[1]) if len(sys.argv) > 1 else Path(__file__).parent.parent
    reg = registry_ids(root)
    failures = []

    readme = doc_ids(root / "README.md")
    survey = doc_ids(root / "SURVEY.md")

    # SURVEY's prose count claim must match the registry size (VERDICT r13
    # item 3: the prose said 188 while the registry was 192 and nothing
    # caught it). The oracle count is cross-checked against the compiled
    # registry by DocDriftSpec, which can see SparkEntry.oracleSql.
    claims = COUNT_CLAIM_RE.findall((root / "SURVEY.md").read_text())
    if not claims:
        failures.append("SURVEY.md has no '**N registered queries, M with "
                        "DuckDB oracles' count claim to cross-check")
    for total, _ in claims:
        if int(total) != len(reg):
            failures.append(f"SURVEY.md claims {total} registered queries; "
                            f"the QueryDef registry has {len(reg)}")

    missing = sorted(set(reg) - readme, key=lambda s: (s[:1], len(s), s))
    if missing:
        failures.append(f"README.md never mentions registry ids: {', '.join(missing)}")

    for name, ids in (("README.md", readme), ("SURVEY.md", survey)):
        phantoms = sorted(ids - set(reg), key=lambda s: (s[:1], len(s), s))
        if phantoms:
            failures.append(f"{name} mentions ids not in the registry: {', '.join(phantoms)}")

    for name in ("README.md", "SURVEY.md"):
        refs = phantom_refs(root, root / name)
        if refs:
            failures.append(f"{name} references members not in src/main: {', '.join(refs)}")

    links = dangling_links(root)
    if links:
        failures.append(f"dangling scaladoc links: {', '.join(links)}")

    if failures:
        print("doc drift: FAILED")
        for f in failures:
            print("  " + f)
        return 1
    print(f"doc drift: ok ({len(reg)} registry ids; README mentions all; "
          f"no phantoms in README/SURVEY; their member references and "
          f"scaladoc links resolve)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
