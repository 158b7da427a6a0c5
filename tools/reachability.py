#!/usr/bin/env python3
"""Reachability scan: report every engine def that no entry point reaches.

Usage: python3 tools/reachability.py [--why NAME]

`--why NAME` prints, for each declaration called NAME, the chain of
declarations through which an entry point reaches it.

Reads the Scala text of src/main/scala and perfbench/scala, splits it into
declarations (def/val/var/class/object/trait, bounded by brace depth),
and grows a word-level reference closure from the roots below. A member
of an `object` counts as referenced when its name appears qualified by
the object (`Owner.name`), or bare in reached text of its own file or of
a file that imports the object's members; a member of a class or trait
counts when its name appears anywhere in reached text. Overrides,
implicits, apply/unapply and vals are reached with their owner (the
framework or the compiler calls them, or object initialization runs
them). Comments are stripped first, so a scaladoc link is not a caller;
string literals are kept, so a class named in a config string is.

Roots:
  - SparkEntry.queries, SparkEntry.oracleSql and SparkEntry.entry;
  - the pipelines' entry defs and the streaming twins their scaladoc
    names (see PIPELINE_ROOTS);
  - every top-level `object` in src/main/scala that declares
    `def main(args: Array[String])`;
  - GraftSession.enrich and every `register` def (SQL-name
    registrations);
  - all of perfbench/scala (every engine symbol the benchmark calls).

Prints each unreached def (or type, once for all its members) with its
file and line, marking those listed in DESIGN.md's "Kept without a
caller" table; what only a listed entry reaches needs no row. Each row's
reason opens with one of KINDS, so a library def that merely has a spec
cannot be parked there. Exits 1 if any unreached def is not listed there,
if a row's reason opens with no kind, if a row names a def that is
reached or no longer exists (a stale row), or if code in src/main/scala
names `org.apache.spark.ml` (the engine fits its models itself; specs
may still use spark.ml); 0 otherwise.
"""
import os, re, sys
from collections import defaultdict

ENTRY_ROOTS = [("SparkEntry", "queries"), ("SparkEntry", "oracleSql"),
               ("SparkEntry", "entry"), ("GraftSession", "enrich")]
PIPELINE_ROOTS = [
    ("Pipeline", "ingestAndFeaturize"), ("Pipeline", "ingestAndFeaturizeStream"),
    ("CorpusPipeline", "curate"), ("CorpusPipeline", "appendBatch"),
    ("CorpusPipeline", "compactSignatures"),
    ("MediaPipeline", "curate"), ("MediaPipeline", "appendBatch"),
    ("StreamingOps", "annotateDocuments"), ("StreamingOps", "readDocumentsStream"),
    ("StreamingOps", "incrementalDedupStream"),
    ("StreamingOps", "incrementalMediaDedupStream"),
]
# the reasons a def may stay without a caller (DESIGN.md lists each)
KINDS = ("reference:", "fixture builder:", "spec probe:", "deployment entry:")
# members the compiler or Spark call without naming them
OWNER_CALLED = {"apply", "unapply", "unapplySeq", "main"}
# Spark bases whose abstract members are implemented without `override`
FRAMEWORK_BASES = re.compile(r"\bextends\s+Aggregator\b")
SPARK_ML = re.compile(r"\borg\s*\.\s*apache\s*\.\s*spark\s*\.\s*ml")
MAIN = re.compile(r"\bdef\s+main\s*\(\s*\w+\s*:\s*Array\s*\[\s*String\s*\]\s*\)")
DECL = re.compile(r"\b(def|val|var|class|object|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")
WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
MODIFIERS = {"override", "implicit", "private", "protected", "final", "lazy",
             "case", "abstract", "sealed"}


def literal_spans(src):
    """(start, end, is_comment) of every string, char literal and comment,
    in order: a `//` inside a string is not a comment, and a quote inside
    a comment opens no string."""
    spans, i, n = [], 0, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            spans.append((i, j, False))
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            j += 1
            spans.append((i, j, False))
        elif src[i] == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2 if src[i + 1] == "\\" else i + 1)
            j = i + 1 if j < 0 else j + 1
            spans.append((i, j, False))
        elif src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            spans.append((i, j, True))
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            spans.append((i, j, True))
        else:
            i += 1
            continue
        i = j
    return spans


def strip_comments(src):
    """Blank out comments, keeping strings, offsets and newlines."""
    out = list(src)
    for a, b, comment in literal_spans(src):
        if comment:
            for k in range(a, min(b, len(src))):
                if out[k] != "\n":
                    out[k] = " "
    return "".join(out)


def code_mask(text):
    """True at offsets outside string and char literals (of comment-free
    text)."""
    mask = [True] * len(text)
    for a, b, _ in literal_spans(text):
        for k in range(a, min(b, len(text))):
            mask[k] = False
    return mask


class Decl:
    def __init__(self, path, kind, name, start, line, owner, mods):
        self.path, self.kind, self.name, self.start = path, kind, name, start
        self.line, self.owner, self.mods = line, owner, mods
        self.end = None        # end offset of the whole declaration
        self.body = None       # (open, close) of a type's member block
        self.members = []

    def __repr__(self):
        return f"{self.kind} {self.qual()}"

    def qual(self):
        return f"{self.owner.qual()}.{self.name}" if self.owner else self.name


def parse(path, text):
    """Declarations of one file, with brace-bounded extents and owners."""
    mask = code_mask(text)
    depth_at = [0] * (len(text) + 1)
    d = 0
    for i, c in enumerate(text):
        depth_at[i] = d
        if mask[i] and c in "{(":
            d += 1
        elif mask[i] and c in "})":
            d -= 1
    depth_at[len(text)] = d
    decls = []
    for m in DECL.finditer(text):
        if not mask[m.start()]:
            continue
        line_start = text.rfind("\n", 0, m.start()) + 1
        prefix = text[line_start:m.start()].split()
        if any(w not in MODIFIERS and not w.startswith("@") and
               not w.startswith("private[") for w in prefix):
            # `val` inside an expression line (pattern, for-binding, param)
            if m.group(1) in ("val", "var", "def"):
                continue
        decls.append((m, [w for w in prefix if w in MODIFIERS]))
    out, stack = [], []   # stack of (type Decl, body close offset)
    for m, mods in decls:
        start, depth = m.start(), depth_at[m.start()]
        while stack and start > stack[-1][1]:
            stack.pop()
        owner = stack[-1][0] if stack else None
        if owner and depth != depth_at[owner.body[0] + 1]:
            continue  # a local declaration inside a member's body
        dc = Decl(path, m.group(1), m.group(2), start,
                  text.count("\n", 0, start) + 1, owner, mods)
        out.append((dc, depth))
        if owner:
            owner.members.append(dc)
        if dc.kind in ("class", "object", "trait"):
            # the body is the first `{` at the declaration's depth, unless
            # the header ends first: a line break at that depth that the
            # next line does not continue with `extends`, `with` or `{`
            j = m.end()
            while j < len(text):
                if mask[j] and depth_at[j] == depth:
                    if text[j] == "{":
                        close = j + 1
                        while close < len(text) and depth_at[close + 1] > depth:
                            close += 1
                        dc.body = (j, close)
                        stack.append((dc, close))
                        break
                    if text[j] == "\n" and not text[j + 1:].lstrip().startswith(
                            ("extends", "with", "{")):
                        break
                j += 1
    # a declaration extends to the next one at its depth in the same
    # block, or to the block's close
    for idx, (dc, depth) in enumerate(out):
        limit = dc.owner.body[1] if dc.owner else len(text)
        dc.end = next((dn.start for dn, dnd in out[idx + 1:]
                       if dn.start < limit and dnd == depth and dn.owner is dc.owner),
                      limit)
    return [dc for dc, _ in out]


def own_text(dc, text):
    """The text a reached declaration contributes: for a type, its header
    and the statements of its block outside member declarations; for
    anything else, the whole extent."""
    if dc.kind not in ("class", "object", "trait") or dc.body is None:
        return text[dc.start:dc.end]
    parts, pos = [text[dc.start:dc.body[0] + 1]], dc.body[0] + 1
    for mem in sorted(dc.members, key=lambda x: x.start):
        parts.append(text[pos:mem.start])
        pos = mem.end
    parts.append(text[pos:dc.body[1]])
    parts.append(text[dc.body[1]:dc.end])
    return "\n".join(parts)


def main(root, why=None):
    files = {}
    for sub in ("src/main/scala", "perfbench/scala"):
        for d, _, fs in os.walk(os.path.join(root, sub)):
            for f in sorted(fs):
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    files[os.path.relpath(p, root)] = strip_comments(open(p).read())
    decls = {p: parse(p, t) for p, t in files.items()}
    alld = [dc for ds in decls.values() for dc in ds]
    by_name = defaultdict(list)
    for dc in alld:
        by_name[dc.name].append(dc)
    # files whose text may name an object's members bare
    imports = defaultdict(set)   # file -> object names imported with `._` / `{...}`
    for p, t in files.items():
        for m in re.finditer(r"^\s*import\s+([\w.]+)\.(_|\{[^}]*\}|\w+)", t, re.M):
            last = m.group(1).split(".")[-1]
            sel = m.group(2)
            if sel == "_" or (sel.startswith("{") and "=>" not in sel):
                imports[p].add(last)

    reached, queue, via, seen = set(), [], {}, set()

    def reach(dc, by="root"):
        if id(dc) in reached:
            return
        reached.add(id(dc))
        via[id(dc)] = by
        queue.append(dc)
        if dc.owner:
            reach(dc.owner, dc)
        if dc.kind in ("class", "object", "trait"):
            framework = dc.body and FRAMEWORK_BASES.search(
                files[dc.path][dc.start:dc.body[0]])
            for mem in dc.members:
                if (mem.kind in ("val", "var") or mem.name in OWNER_CALLED
                        or "override" in mem.mods or "implicit" in mem.mods
                        or framework
                        or (dc.kind != "object" and mem.name in seen)):
                    reach(mem, dc)

    def close():
        while queue:
            dc = queue.pop()
            t = own_text(dc, files[dc.path])
            words = set(WORD.findall(t))
            seen.update(words)
            quals = set(re.findall(r"\b(?=([A-Za-z_]\w*)\s*\.\s*([A-Za-z_]\w*))", t))
            for w in words:
                for cand in by_name.get(w, ()):
                    if id(cand) in reached:
                        continue
                    own = cand.owner
                    if own is None:
                        ok = True
                    elif own.kind != "object":
                        ok = id(own) in reached  # else reached with its owner
                    else:
                        ok = (own.name, w) in quals or cand.path == dc.path or \
                            own.name in imports[dc.path]
                    if ok:
                        reach(cand, dc)

    def find(owner, name):
        return [dc for dc in by_name[name] if dc.owner and dc.owner.name == owner]

    def key(dc):
        return f"{dc.owner.name}.{dc.name}" if dc.owner else dc.name

    for p in files:
        if p.startswith("perfbench/"):
            for dc in decls[p]:
                reach(dc)
    for o, n in ENTRY_ROOTS + PIPELINE_ROOTS:
        hits = find(o, n)
        if not hits:
            sys.exit(f"reachability: root {o}.{n} not found")
        for dc in hits:
            reach(dc)
    for dc in by_name["main"]:
        own = dc.owner
        if (dc.path.startswith("src/") and own and own.kind == "object"
                and own.owner is None and MAIN.match(files[dc.path], dc.start)):
            reach(dc)
    for dc in by_name["register"]:
        reach(dc)
    close()

    if why:
        for dc in by_name[why]:
            chain, cur = [], dc
            while id(cur) in reached and cur != "root":
                chain.append(f"{cur!r} ({cur.path}:{cur.line})")
                cur = via[id(cur)]
            print(" <- ".join(chain) or f"{dc!r}: unreached")
        return 0

    # an unreached type is reported once, not member by member
    unreached = [dc for dc in alld if id(dc) not in reached
                 and dc.path.startswith("src/")
                 and dc.kind not in ("val", "var")
                 and (dc.owner is None or id(dc.owner) in reached)]
    unreached.sort(key=lambda d: (d.path, d.line))
    # second closure: what the kept entries reach needs no row of its own
    kept = kept_table(root)
    entry_reached = set(reached)
    for dc in unreached:
        if key(dc) in kept:
            reach(dc, "kept")
    close()
    bad = 0
    for dc in unreached:
        k = key(dc)
        if k in kept:
            print(f"kept {dc.path}:{dc.line} {dc.kind} {k} — {kept[k]}")
        elif id(dc) in reached:
            print(f"kept {dc.path}:{dc.line} {dc.kind} {k} — helper of a kept entry")
        else:
            print(f"DEAD {dc.path}:{dc.line} {dc.kind} {k}")
            bad += 1
    listed = {key(dc) for dc in unreached}
    for k in sorted(set(kept) - listed):
        print(f"STALE DESIGN.md 'Kept without a caller' row {k}: reached or gone")
        bad += 1
    for k in sorted(k for k, reason in kept.items() if not reason.startswith(KINDS)):
        print(f"UNKINDED DESIGN.md 'Kept without a caller' row {k}: "
              f"its reason opens with none of {', '.join(KINDS)}")
        bad += 1
    for p, t in sorted(files.items()):
        if p.startswith("src/"):
            for m in SPARK_ML.finditer(t):
                print(f"SPARK.ML {p}:{t.count(chr(10), 0, m.start()) + 1}: "
                      "src/main uses org.apache.spark.ml")
                bad += 1
    print(f"\n{len(entry_reached)} of {len(alld)} declarations reached from the "
          f"entry points; {len(unreached)} unreached, {bad} without a reason")
    return 1 if bad else 0


def kept_table(root):
    """DESIGN.md's "Kept without a caller" table: `Owner.def` -> reason."""
    rows, on = {}, False
    for line in open(os.path.join(root, "DESIGN.md")):
        if line.startswith("#"):
            on = "Kept without a caller" in line
            continue
        m = re.match(r"\|\s*`([\w.]+)`\s*\|\s*([^|]*\S)\s*\|", line) if on else None
        if m:
            rows[m.group(1)] = m.group(2)
    return rows


if __name__ == "__main__":
    args = sys.argv[1:]
    sys.exit(main(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                  why=args[1] if args[:1] == ["--why"] and len(args) > 1 else None))
