"""Seeded input generators for the benchmark.

Two input sets, both a pure function of (seed, size):

* ``documents``: the parquet table the curation passes read, with the
  column types and value domains of the sf-scaled test table (one file,
  one row group).
* ``ttl``: a DBpedia-release-layout ttl tree
  (``<base>/release-bench/core/<lang>/<name>_<lang>.ttl/part-N.txt``) with
  the dataset shapes of ``graft.PipelineBench.generate``: seven datasets,
  en/de/fr/es volume skew, typed infobox literals with ~10% minority-type
  noise per predicate, and sameAs targets in a language outside the corpus.

``ensure_*`` build into a temporary directory and rename it into place
only when complete, so an interrupted run never leaves a partial cache.
The cache directory's name carries a digest of this file, so an edited
generator never reuses inputs made by an earlier version.
The manifest written beside the data records the generated row counts
that the benchmark checks outputs against.
"""
import hashlib
import json
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RELEASE = "release-bench"
LANGS = [("en", 8), ("de", 4), ("fr", 2), ("es", 2)]
DATASETS = [
    ("page_links", 0.35), ("infobox_properties", 0.25), ("labels", 0.15),
    ("article_categories", 0.10), ("interlanguage_links", 0.08),
    ("geo_coordinates", 0.04), ("skos_categories", 0.03)]
TTL_PARTS = 4
with open(__file__, "rb") as _f:
    VERSION = hashlib.sha256(_f.read()).hexdigest()[:12]
WORDS = ("query row stream the spark line small fast group customer batch sort "
         "value hash filter big data part column order scan a slow agg key "
         "window table merge vector join").split()


def _rng(seed, stream):
    """Independent generator per (seed, stream name): adding a table or a
    dataset never shifts the values of another."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _write_parquet(path, columns):
    pq.write_table(pa.table(columns), path, row_group_size=1 << 30,
                   compression="snappy")


def write_documents(seed, n, out):
    """Write the ``documents`` table the curation passes read: ``n``
    word-salad documents over a 30-word vocabulary from 20 sources, every
    20th a near duplicate of an earlier one and every 500th an exact
    duplicate, so each dedup stage has work. Returns the row count."""
    r = _rng(seed, "documents")
    words = np.array(WORDS)
    texts = []
    for i in range(n):
        if i % 20 == 11 and i >= 20:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        elif i % 500 == 499:
            texts.append(texts[int(r.integers(0, i))])
        else:
            texts.append(" ".join(words[r.integers(0, len(WORDS), int(r.integers(10, 100)))]))
    langs = np.array(["en", "en", "de", "fr", "es", "zh", "en"])
    _write_parquet(os.path.join(out, "documents.parquet"), {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs[r.integers(0, 7, n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    return n


def _node(lang, ids):
    return [f"<http://{lang}.dbpedia.org/resource/R{i}>" for i in ids]


def _ttl_lines(name, lang, n, r):
    """``n`` ttl lines of one dataset/language slice (PipelineBench shapes)."""
    sid = r.integers(0, max(1000, n * 2), n)
    pk = r.integers(0, 20000, n)
    sk = r.integers(0, 1000, n)
    if name == "labels":
        hexes = r.integers(0, 1 << 48, n)
        ws = np.array(WORDS)[r.integers(0, len(WORDS), (n, 3))]
        return [f'<http://{lang}.dbpedia.org/resource/R{s}x{j}> '
                f'<http://www.w3.org/2000/01/rdf-schema#label> '
                f'"entity {w[0]} {w[1]} {w[2]} {h:012x}"@{lang} .'
                for j, (s, w, h) in enumerate(zip(sid, ws, hexes))]
    if name == "page_links":
        return [f"{a} <http://dbpedia.org/ontology/wikiPageWikiLink> {b} ."
                for a, b in zip(_node(lang, sid), _node(lang, pk))]
    if name == "infobox_properties":
        pred = pk % 150
        noise = r.integers(0, 10, n) == 0
        kind = (pred + noise) % 3  # dominant type per predicate, ~10% minority
        qty = r.integers(1, 51, n)
        ws = np.array(WORDS)[r.integers(0, len(WORDS), n)]
        out = []
        for s, p, k, q, w, o in zip(_node(lang, sid), pred, kind, qty, ws, _node(lang, sk)):
            obj = (f'"{q}"^^<http://www.w3.org/2001/XMLSchema#integer>' if k == 0
                   else f'"{w} {q}"' if k == 1 else o)
            out.append(f"{s} <http://{lang}.dbpedia.org/property/p{p}> {obj} .")
        return out
    if name == "interlanguage_links":
        others = [l for l, _ in LANGS if l != lang] + ["pt"]  # "pt" is outside the corpus
        return [f"{a} <http://www.w3.org/2002/07/owl#sameAs> "
                f"<http://{others[s % len(others)]}.dbpedia.org/resource/R{s}> ."
                for a, s in zip(_node(lang, sid), sid)]
    if name == "article_categories":
        return [f"{a} <http://purl.org/dc/terms/subject> "
                f"<http://{lang}.dbpedia.org/resource/Category:C{p % 1000}> ."
                for a, p in zip(_node(lang, sid), pk)]
    if name == "skos_categories":
        out = []
        for s, p in zip(sid, pk):
            c = f"<http://{lang}.dbpedia.org/resource/Category:C{p % 1000}>"
            if s % 2 == 0:
                out.append(f'{c} <http://www.w3.org/2004/02/skos/core#prefLabel> "C{p % 1000}"@{lang} .')
            else:
                out.append(f"{c} <http://www.w3.org/2004/02/skos/core#broader> "
                           f"<http://{lang}.dbpedia.org/resource/Category:C{p % 100}> .")
        return out
    if name == "geo_coordinates":
        return [f'{a} <http://www.georss.org/georss/point> "{p % 90}.{k % 100} {k % 180}.{s % 100}" .'
                for a, p, k, s in zip(_node(lang, sid), pk, sk, sid)]
    raise ValueError(name)


AVG_LINE_BYTES = 110


def write_ttl(seed, mb, out):
    """Write the release-layout ttl tree of about ``mb`` megabytes under
    ``out``; returns the triple counts per dataset and per dataset/language
    slice, and the total bytes."""
    total = mb * 1024 * 1024
    weight = sum(w for _, w in LANGS)
    triples, slices, nbytes = {}, {}, 0
    for name, share in DATASETS:
        triples[name] = 0
        for lang, w in LANGS:
            n = max(TTL_PARTS, int(total * share * w / weight / AVG_LINE_BYTES))
            lines = _ttl_lines(name, lang, n, _rng(seed, f"ttl/{name}/{lang}"))
            d = os.path.join(out, RELEASE, "core", lang, f"{name}_{lang}.ttl")
            os.makedirs(d)
            step = -(-n // TTL_PARTS)
            for k in range(TTL_PARTS):
                data = ("\n".join(lines[k * step:(k + 1) * step]) + "\n").encode()
                with open(os.path.join(d, f"part-{k:05d}.txt"), "wb") as f:
                    f.write(data)
                nbytes += len(data)
            triples[name] += n
            slices[f"{name}/{lang}"] = n
    return {"triples": triples, "lang_triples": slices, "ttl_bytes": nbytes}


def _ensure(path, build):
    manifest = os.path.join(path, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return json.load(f)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    info = build(tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(info, f, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return info


def ensure_documents(root, seed, n):
    path = os.path.join(root, f"documents-s{seed}-{n}-{VERSION}")
    return path, _ensure(path, lambda d: {"rows": write_documents(seed, n, d)})


def ensure_ttl(root, seed, mb):
    path = os.path.join(root, f"ttl-s{seed}-{mb}mb-{VERSION}")
    return path, _ensure(path, lambda d: write_ttl(seed, mb, d))
