#!/usr/bin/env python3
"""Normalize + hash every query's `.explain("formatted")` dump so
PLAN_CHANGED membership in the re-freeze is a RECORDED plan-fingerprint
diff, not a hand-maintained list (ADVICE r17 item 5).

Normalization strips run-varying tokens that do not change the plan's
shape: expression ids (#123), codegen/plan ids, subquery ids, staging
temp-dir paths and hash-suffixed staged table names, InMemoryFileIndex
paths, random-suffixed graft temp dirs, JVM lambda identities, the
counter suffix of generated lambda-variable names (`lambda x_298#x` ->
`lambda x_N#x`: a JVM-wide counter numbers them, so it moves whenever an
earlier plan in the dump built more or fewer lambdas), RDD ids and source
lines of checkpointed-RDD scans, AQE
isFinalPlan markers, and the expression-id-dependent operand order of the
Expand/Aggregate lines Spark generates for several count_distinct.

Usage:
  # produce fingerprints from an ExplainDump all-queries dump
  python3 tools/plan_fingerprint.py hash <explain_dump.txt> <out.json>
  # diff two fingerprint files -> the changed-query list
  python3 tools/plan_fingerprint.py diff <old.json> <new.json>
"""
import hashlib, json, re, sys


def normalize(body: str) -> str:
    b = body
    b = re.sub(r"#\d+[L]?", "#x", b)
    b = re.sub(r"\[plan_id=\d+\]", "", b)
    b = re.sub(r"\[id=#x\]", "", b)
    b = re.sub(r"codegen id : \d+", "codegen id : x", b)
    b = re.sub(r"Subquery subquery#x, \[id=[^\]]*\]", "Subquery", b)
    b = re.sub(r"cte\w*\d+", "cte", b)
    # staged artifacts: per-sfdir hash-suffixed table names + temp dirs
    b = re.sub(r"graft_[a-z0-9_]+_[0-9a-f]{6,}", "graft_staged", b)
    b = re.sub(r"file:[^\],\s]+", "file:PATH", b)
    # per-run temp dirs outside file: URIs (e.g. BioNlpScan(path=...)):
    # createTempDirectory appends a random number to the graft- prefix
    b = re.sub(r"(/graft-[A-Za-z_-]*?)-?\d{5,}", r"\1-N", b)
    # JVM lambda identities in object-operator arguments
    b = re.sub(r"\$\$Lambda[$/\w]*@[0-9a-f]+", "$$Lambda", b)
    # generated higher-order-function variables: x_298 -> x_N
    b = re.sub(r"(lambda \w+?)_\d+#", r"\1_N#", b)
    # scans of checkpointed RDDs name the RDD id and the creating source line
    b = re.sub(r"(\w+RDD)\[\d+\] at (\w+) at ([\w.]+):\d+", r"\1[n] at \2 at \3", b)
    b = re.sub(r"Location: \w+ \[[^\]]*\]", "Location: X", b)
    b = re.sub(r"isFinalPlan=\w+", "", b)
    # operator numbering shifts when subtrees reorder identically
    b = re.sub(r"^\((\d+)\) ", "() ", b, flags=re.M)
    b = re.sub(r"\(\d+\)", "(n)", b)
    # several count_distinct in one aggregate: Spark's distinct-aggregate
    # rewrite orders the Expand's groups (and the gid literal each group
    # gets) by expression id, so every line carrying its generated gid
    # column permutes between runs. Compare those lines as token multisets.
    b = "\n".join(" ".join(sorted(re.findall(r"\w+|[^\w\s]", ln))) if "gid#x" in ln else ln
                  for ln in b.split("\n"))
    return b


def split_queries(txt: str, names):
    idx = sorted((txt.index(f"===== {n} =====\n"), n) for n in names
                 if f"===== {n} =====\n" in txt)
    out = {}
    for k, (p, n) in enumerate(idx):
        start = p + len(f"===== {n} =====\n")
        end = idx[k + 1][0] if k + 1 < len(idx) else len(txt)
        out[n] = txt[start:end]
    return out


def main():
    mode = sys.argv[1]
    if mode == "hash":
        txt = open(sys.argv[2]).read()
        names = set(re.findall(r"^===== (\S+) =====$", txt, re.M)) - {"Subqueries"}
        qs = split_queries(txt, names)
        fp = {n: hashlib.sha256(normalize(b).encode()).hexdigest()[:16]
              for n, b in sorted(qs.items())}
        json.dump(fp, open(sys.argv[3], "w"), indent=1)
        print(f"[fingerprint] hashed {len(fp)} query plans -> {sys.argv[3]}")
    elif mode == "diff":
        old = json.load(open(sys.argv[2]))
        new = json.load(open(sys.argv[3]))
        changed = sorted(q for q in new if q in old and old[q] != new[q])
        only_new = sorted(q for q in new if q not in old)
        print(json.dumps({"changed": changed, "only_new": only_new,
                          "n_same": sum(1 for q in new
                                        if old.get(q) == new[q])}, indent=1))
    else:
        sys.exit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()
