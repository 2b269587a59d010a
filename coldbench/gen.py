#!/usr/bin/env python3
"""Seeded corpus generator for the cold production-order benchmark.

Writes one workload's input tables under an output directory; the same
(workload, seed) always gives byte-identical files:

  documents.parquet   doc_id, text, lang, source, n_chars: what ingest must give
  medline/ or bioc/   doc_id, xml in 8 part files: the ingest input
  meta.parquet        doc_id, lang, source: collection metadata joined at ingest
  abbrevs.parquet     doc_id, short_form, long_form: every `long form (SF)` in a text
  dup_pairs.parquet   doc_a, doc_b: generated duplicate pairs (abstracts only)
  stream/             small doc files with the documents.parquet schema, in the
                      order the stream phase drops them (abstracts only)
  manifest.json       sizes and shares

Texts follow the program's fixture: single-space separated words from its
30-word vocabulary, its language and source mix, `n_chars` equal to the text
length, and a trailing ` dup` unactionable marker on 5% of documents. On top
of that, 30% of abstracts carry one `long form (SF)` definition and a full
text carries one per 250 words; each full text draws its words from its own
20-word subset of the vocabulary. The abstracts corpus carries fixed
exact-duplicate, near-duplicate (remixed halves) and eval-leak shares for the
curation stages.

Usage: python3 gen.py --workload <name> --seed <n> --out <dir>
"""
import argparse
import json
import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
# fixture language mix (sf0.01: en 44%, the rest ~14% each)
LANGS = ["en"] * 44 + ["zh"] * 14 + ["es"] * 14 + ["de"] * 14 + ["fr"] * 14
KEPT_LANGS = {"en", "es", "de", "fr"}    # TextOps.filterUnactionable keeps these
N_SOURCES = 20            # fixture: source = src{doc_id % 20}
DUP_MARKER_SHARE = 0.05   # fixture: 25 of 500 docs end with " dup"
ABBREV_SHARE = 0.30       # short docs with one injected "long form (SF)"
TITLE_WORDS = 10          # = TextOps.SentWindow: the title is sentence 0
EVAL_EVERY = 50           # the eval slice: title sentence of every 50th doc
SF = re.compile(r"^\(([A-Z]{2})\)$")

# The stream phase's doc files: abstract-length docs, numbered after the
# batch corpus
STREAM_FILES = 22
STREAM_DOCS_PER_FILE = 8
STREAM_FIRST_ID = 1_000_000

# Lengths follow the source each workload stands for; document counts are
# fitted so that the 48 runs of a benchmark round, each with its set-up, cold
# chain and checks, end within the hour on a 4-core box even when the host
# runs the chains 40% slower than usual.
SIZES = {
    "pipeline_abstracts": dict(docs=600, words=(10, 99), exact_dup_share=0.05,
                               near_dup_share=0.10, eval_leak_share=0.02,
                               stream_files=STREAM_FILES),
    "pipeline_fulltext": dict(docs=8, words=(1800, 2200), topic_words=20, abbrev_every=250),
}

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])


def make_docs(rng, n, lo, hi, first_id=0, topic_words=None, abbrev_every=None):
    """Fixture-shaped documents: (doc_id, words, lang, source). Lengths,
    languages, `dup` markers and definitions are dealt out in fixed shares in
    a seeded order, so every seed's corpus has the same number of words, of
    kept documents and of definitions before the duplicate shares. With `topic_words`, each document draws its words from its own random
    subset of that many vocabulary words; without it, a long document would
    hold every concept, and the cooccurrence metrics drop a concept that is
    in every document. With `abbrev_every`, a document carries one
    definition per that many words; without it, ABBREV_SHARE of the
    documents carry one."""
    lengths = [lo + i * (hi - lo + 1) // n for i in range(n)]
    langs = [LANGS[(2 * i + 1) * len(LANGS) // (2 * n)] for i in range(n)]
    rng.shuffle(lengths)
    rng.shuffle(langs)
    marked = set(rng.sample(range(n), round(n * DUP_MARKER_SHARE)))
    defined = set(rng.sample(range(n), round(n * ABBREV_SHARE)))
    docs = []
    for i, length in enumerate(lengths):
        vocab = rng.sample(VOCAB, topic_words) if topic_words else VOCAB
        ws = [rng.choice(vocab) for _ in range(length)]
        ws = with_definitions(rng, ws, length // abbrev_every if abbrev_every else int(i in defined))
        if i in marked:
            ws.append("dup")
        doc_id = first_id + i
        docs.append((doc_id, ws, langs[i], f"src{doc_id % N_SOURCES}"))
    return docs


def with_definitions(rng, ws, n):
    """`ws` with `n` definitions of distinct short forms spliced in at
    distinct word boundaries."""
    defs, seen = [], set()
    while len(defs) < n:
        w1, w2 = rng.choice(VOCAB[1:]), rng.choice(VOCAB[1:])
        sf = (w1[0] + w2[0]).upper()
        if sf not in seen:
            seen.add(sf)
            defs.append([w1, w2, f"({sf})"])
    out, prev = [], 0
    for cut, d in zip(sorted(rng.sample(range(len(ws) + 1), n)), defs):
        out += ws[prev:cut] + d
        prev = cut
    return out + ws[prev:]


def safe_cut(ws, at):
    """Move a cut point past any `long form (SF)` it would split."""
    while at < len(ws) and any(SF.match(w) for w in ws[at:at + 2]):
        at += 1
    return at


def add_duplicates(rng, docs, size):
    """Overwrite fixed shares of the texts with exact copies, remixed halves
    of two other docs (as ScaleUp remixes replicas) and pasted eval items.
    Returns the generated duplicate pairs and the counts."""
    n = len(docs)
    words = {d[0]: d[1] for d in docs}
    kept = [d[0] for d in docs if d[2] in KEPT_LANGS and len(" ".join(d[1])) >= 50]
    evals = [i for i in kept if i % EVAL_EVERY == 0]
    free = [i for i in kept if i % EVAL_EVERY != 0]
    rng.shuffle(free)
    n_exact, n_near, n_leak = (int(n * size[k]) for k in
                               ("exact_dup_share", "near_dup_share", "eval_leak_share"))
    exact, near = free[:n_exact], free[n_exact:n_exact + n_near]
    leak = free[n_exact + n_near:n_exact + n_near + n_leak]
    pool = sorted(set(free) - set(exact) - set(near) - set(leak))
    pairs, copies = set(), {}
    for i in exact:
        j = rng.choice(pool)
        words[i] = list(words[j])
        pairs.update((min(i, k), max(i, k)) for k in [j] + copies.get(j, []))
        copies.setdefault(j, []).append(i)
    for i in near:
        ja, jb = rng.choice(pool), rng.choice(pool)
        a, b = words[ja], words[jb]
        words[i] = a[:safe_cut(a, max(1, len(a) // 2))] + b[safe_cut(b, len(b) // 2):]
        pairs.update({(min(i, ja), max(i, ja)), (min(i, jb), max(i, jb))})
    for i in leak:
        ws = words[i]
        at = safe_cut(ws, rng.randint(0, len(ws) - 1))
        words[i] = ws[:at] + words[rng.choice(evals)][:TITLE_WORDS] + ws[at:]
    docs[:] = [(i, words[i], lang, src) for i, _, lang, src in docs]
    counts = dict(exact_dups=n_exact, near_dups=n_near, eval_items=len(evals), eval_leaks=n_leak)
    return sorted(p for p in pairs if p[0] != p[1]), counts


def docs_table(docs):
    texts = [" ".join(ws) for _, ws, _, _ in docs]
    return pa.table({"doc_id": [d[0] for d in docs], "text": texts, "lang": [d[2] for d in docs],
                     "source": [d[3] for d in docs], "n_chars": [len(t) for t in texts]},
                    schema=DOC_SCHEMA)


def write(table, path, parts=1):
    """One parquet file, or `parts` files under a directory (a corpus that
    arrives as several files, as Medline and PMC dumps do)."""
    opts = dict(compression="snappy", use_dictionary=True, write_statistics=True)
    if parts == 1:
        pq.write_table(table, path, **opts)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for p in range(parts):
        pq.write_table(table.slice(p * step, step),
                       os.path.join(path, f"part-{p:05d}.parquet"), **opts)


def medline_xml(doc_id, ws):
    """Title = the first sentence window, abstract = labelled sections of 20
    words; the pub-year is left out of every 7th citation (the 2155 default)."""
    labels = ["BACKGROUND", "METHODS", "RESULTS", "CONCLUSIONS"]
    rest = ws[TITLE_WORDS:]
    abstract = "".join(
        f'<AbstractText Label="{labels[min(k // 20, 3)]}">{" ".join(rest[k:k + 20])}</AbstractText>'
        for k in range(0, len(rest), 20))
    year = "" if doc_id % 7 == 0 else f"<Year>{1990 + doc_id % 30}</Year>"
    return ("<PubmedArticle><MedlineCitation>"
            f"<PMID>{doc_id}</PMID><Article><Journal><JournalIssue>"
            f"<PubDate>{year}</PubDate></JournalIssue></Journal>"
            f"<ArticleTitle>{' '.join(ws[:TITLE_WORDS])}</ArticleTitle>"
            + (f"<Abstract>{abstract}</Abstract>" if abstract else "")
            + "</Article></MedlineCitation></PubmedArticle>")


def bioc_xml(doc_id, ws):
    """A title passage and one body passage at the offset after it."""
    title, body = " ".join(ws[:TITLE_WORDS]), " ".join(ws[TITLE_WORDS:])
    out = ("<collection><document>"
           f"<id>{doc_id}</id>"
           '<passage><infon key="type">title</infon><offset>0</offset>'
           f"<text>{title}</text></passage>")
    if body:
        out += ('<passage><infon key="type">abstract</infon>'
                f"<offset>{len(title) + 1}</offset><text>{body}</text></passage>")
    return out + "</document></collection>"


def generate(workload, seed, out):
    rng = random.Random(f"{workload}:{seed}")
    size = SIZES[workload]
    os.makedirs(out, exist_ok=True)
    docs = make_docs(rng, size["docs"], *size["words"], topic_words=size.get("topic_words"),
                     abbrev_every=size.get("abbrev_every"))
    info = dict(docs=len(docs))
    if "exact_dup_share" in size:
        pairs, counts = add_duplicates(rng, docs, size)
        info.update(counts)
        write(pa.table({"doc_a": pa.array([p[0] for p in pairs], pa.int64()),
                        "doc_b": pa.array([p[1] for p in pairs], pa.int64())}),
              os.path.join(out, "dup_pairs.parquet"))
    texts = [" ".join(ws) for _, ws, _, _ in docs]
    ids = pa.array([d[0] for d in docs], pa.int64())
    write(docs_table(docs), os.path.join(out, "documents.parquet"))
    write(pa.table({"doc_id": ids, "lang": pa.array([d[2] for d in docs], pa.string()),
                    "source": pa.array([d[3] for d in docs], pa.string())}),
          os.path.join(out, "meta.parquet"))
    abbrevs = [(d[0], m.group(1), f"{d[1][k - 2]} {d[1][k - 1]}")
               for d in docs for k, w in enumerate(d[1]) if k >= 2 for m in [SF.match(w)] if m]
    write(pa.table({"doc_id": pa.array([a[0] for a in abbrevs], pa.int64()),
                    "short_form": pa.array([a[1] for a in abbrevs], pa.string()),
                    "long_form": pa.array([a[2] for a in abbrevs], pa.string())}),
          os.path.join(out, "abbrevs.parquet"))
    fmt, xml = ("medline", medline_xml) if workload == "pipeline_abstracts" else ("bioc", bioc_xml)
    write(pa.table({"doc_id": ids, "xml": pa.array([xml(d[0], d[1]) for d in docs], pa.string())}),
          os.path.join(out, fmt), parts=8)
    info.update(abbrevs=len(abbrevs), text_bytes=sum(len(t.encode()) for t in texts),
                words=sum(len(d[1]) for d in docs))
    if "stream_files" in size:
        n = size["stream_files"]
        sdocs = make_docs(rng, n * STREAM_DOCS_PER_FILE, *size["words"], first_id=STREAM_FIRST_ID)
        os.makedirs(os.path.join(out, "stream"))
        for k in range(n):
            write(docs_table(sdocs[k * STREAM_DOCS_PER_FILE:(k + 1) * STREAM_DOCS_PER_FILE]),
                  os.path.join(out, "stream", f"part-{k:05d}.parquet"))
        info.update(stream_files=n, stream_docs_per_file=STREAM_DOCS_PER_FILE,
                    stream_first_id=STREAM_FIRST_ID)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(info, f, sort_keys=True)
    return info


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out), sort_keys=True))


if __name__ == "__main__":
    main()
