"""Seeded input generator for the benchmark.

One process, local data only. Everything it writes goes under the output
directory it is given; the same seed gives byte-identical files.

- convert: a lineitem-shaped CSV (seeded row order; a seeded subset of the
  comment column carries quoted embedded newlines, doubled-quote escapes and
  Cyrillic text, so the reader's default multiLine path does real quoting
  work) and a directory of orders-shaped xlsx workbooks written with zipfile,
  mixing shared strings and inline strings.
- ingest_serve: documents, their unit vectors and the IVF centroids the store
  is bootstrapped with, the slice plan (bootstrap size,
  fold batch size) and the lookup query set (term lists and query vector ids).

Each input directory gets a MANIFEST.json with the expected row counts and
order-independent key hashes the output checks compare against.
"""

import csv
import hashlib
import io
import json
import os
import shutil
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes of one generated input set. Chosen so one conversion or one fold is
# about a second on a 4-core host, giving tens of samples per timed window.
CSV_ROWS = 30_000
XLSX_FILES = 4
XLSX_SHEETS = 2
XLSX_ROWS_PER_SHEET = 1_500
QUOTED_SHARE = 0.03
DOCS_BOOTSTRAP = 400
DOCS_PER_FOLD = 40
FOLDS_AVAILABLE = 60
LOOKUP_QUERIES = 200
EMBED_DIM = 64

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
CYRILLIC = "данные строка таблица запрос ключ значение поток окно".split()
FLAGS = ["A", "N", "R"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "fr", "es", "zh"]

# Fixed archive timestamp: zip entries otherwise carry the wall clock.
ZIP_TIME = (1980, 1, 1, 0, 0, 0)


def key_hash(keys):
    """Order-independent hash of a collection of key strings: the sum of the
    first 8 bytes of each key's MD5, as an unsigned 64-bit integer."""
    total = 0
    for k in keys:
        total += int.from_bytes(hashlib.md5(k.encode("utf-8")).digest()[:8], "big")
    return total & 0xFFFFFFFFFFFFFFFF


def _comment(rng, quoted):
    words = list(rng.choice(VOCAB, size=int(rng.integers(3, 9))))
    if not quoted:
        return " ".join(words)
    # embedded newline, a doubled-quote escape and Cyrillic text
    cyr = " ".join(rng.choice(CYRILLIC, size=2))
    return f'{" ".join(words[:2])}\n"{cyr}" {" ".join(words[2:])}, end'


def gen_csv(rng, path):
    n = CSV_ROWS
    orderkey = np.arange(n) // 4
    linenumber = np.arange(n) % 4 + 1
    perm = rng.permutation(n)
    quoted = rng.random(n) < QUOTED_SHARE
    partkey = rng.integers(1, 20_000, n)
    suppkey = rng.integers(1, 1_000, n)
    qty = rng.integers(1, 51, n)
    price = np.round(rng.uniform(900, 105_000, n), 2)
    disc = rng.integers(0, 11, n) / 100
    tax = rng.integers(0, 9, n) / 100
    flag = rng.integers(0, 3, n)
    day = rng.integers(0, 2_500, n)
    base = np.datetime64("1992-01-01")
    keys = []
    with open(path, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                    "l_returnflag", "l_linestatus", "l_shipdate", "l_comment"])
        for i in perm:
            c = _comment(rng, quoted[i])
            ok, ln = int(orderkey[i]), int(linenumber[i])
            w.writerow([ok, int(partkey[i]), int(suppkey[i]), ln,
                        f"{float(qty[i]):.1f}", f"{price[i]:.2f}",
                        f"{disc[i]:.2f}", f"{tax[i]:.2f}", FLAGS[flag[i]],
                        "F" if day[i] < 1_800 else "O",
                        str(base + int(day[i])), c])
            keys.append(f"{ok}|{ln}|{c}")
    return {"rows": n, "key_hash": str(key_hash(keys)),
            "quoted_rows": int(quoted.sum()), "bytes": os.path.getsize(path)}


def _esc(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _col(i):
    return "ABCDEFGHIJ"[i]


def _workbook(rng, path, sheets, first_key, shared_cols):
    """One workbook of `sheets` sheets of XLSX_ROWS_PER_SHEET orders rows.
    Columns in `shared_cols` are shared strings; other text cells are inline
    strings; numbers are plain numeric cells."""
    sst, sst_idx = [], {}

    def shared(v):
        if v not in sst_idx:
            sst_idx[v] = len(sst)
            sst.append(v)
        return sst_idx[v]

    header = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]
    keys, parts, key = [], [], first_key
    base = np.datetime64("1992-01-01")
    for s in range(sheets):
        n = XLSX_ROWS_PER_SHEET
        cust = rng.integers(1, 15_000, n)
        status = rng.integers(0, 3, n)
        total = np.round(rng.uniform(800, 500_000, n), 2)
        day = rng.integers(0, 2_400, n)
        prio = rng.integers(0, 5, n)
        out = io.StringIO()
        out.write('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                  '<worksheet xmlns="http://schemas.openxmlformats.org/'
                  'spreadsheetml/2006/main"><sheetData>')

        def text(ref, col, v):
            if col in shared_cols:
                return f'<c r="{ref}" t="s"><v>{shared(v)}</v></c>'
            return f'<c r="{ref}" t="inlineStr"><is><t>{_esc(v)}</t></is></c>'

        out.write('<row r="1">' + "".join(
            f'<c r="{_col(j)}1" t="s"><v>{shared(h)}</v></c>'
            for j, h in enumerate(header)) + "</row>")
        for i in range(n):
            r = i + 2
            vals = [str(base + int(day[i])), STATUS[status[i]], PRIORITY[prio[i]]]
            out.write(
                f'<row r="{r}"><c r="A{r}"><v>{key}</v></c>'
                f'<c r="B{r}"><v>{int(cust[i])}</v></c>'
                + text(f"C{r}", "o_orderstatus", vals[1])
                + f'<c r="D{r}"><v>{total[i]:.2f}</v></c>'
                + text(f"E{r}", "o_orderdate", vals[0])
                + text(f"F{r}", "o_orderpriority", vals[2]) + "</row>")
            keys.append(f"{key}|{vals[2]}")
            key += 1
        out.write("</sheetData></worksheet>")
        parts.append(out.getvalue())

    ns_rel = "http://schemas.openxmlformats.org/package/2006/relationships"
    ns_doc = ("http://schemas.openxmlformats.org/officeDocument/2006/"
              "relationships")
    xml = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    files = {
        "[Content_Types].xml": xml + '<Types xmlns="http://schemas.'
        'openxmlformats.org/package/2006/content-types"><Default '
        'Extension="xml" ContentType="application/xml"/></Types>',
        "_rels/.rels": xml + f'<Relationships xmlns="{ns_rel}"><Relationship '
        f'Id="rId1" Type="{ns_doc}/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>",
        "xl/workbook.xml": xml + '<workbook xmlns="http://schemas.'
        f'openxmlformats.org/spreadsheetml/2006/main" xmlns:r="{ns_doc}">'
        "<sheets>" + "".join(
            f'<sheet name="Sheet{s + 1}" sheetId="{s + 1}" r:id="rId{s + 1}"/>'
            for s in range(sheets)) + "</sheets></workbook>",
        "xl/_rels/workbook.xml.rels": xml + f'<Relationships xmlns="{ns_rel}">'
        + "".join(f'<Relationship Id="rId{s + 1}" Type="{ns_doc}/worksheet" '
                  f'Target="worksheets/sheet{s + 1}.xml"/>'
                  for s in range(sheets)) + "</Relationships>",
        "xl/sharedStrings.xml": xml + '<sst xmlns="http://schemas.'
        'openxmlformats.org/spreadsheetml/2006/main">' + "".join(
            f"<si><t>{_esc(v)}</t></si>" for v in sst) + "</sst>",
    }
    for s, body in enumerate(parts):
        files[f"xl/worksheets/sheet{s + 1}.xml"] = body
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in files.items():
            info = zipfile.ZipInfo(name, date_time=ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, body.encode("utf-8"))
    return keys, key


def gen_xlsx(rng, d):
    os.makedirs(d)
    keys, key = [], 0
    for f in range(XLSX_FILES):
        # the text columns that go through the shared-string table vary by
        # workbook, so both cell encodings are read for every column
        shared_cols = {"o_orderstatus", "o_orderpriority"} if f % 2 == 0 \
            else {"o_orderdate"}
        ks, key = _workbook(rng, os.path.join(d, f"orders_{f}.xlsx"),
                            XLSX_SHEETS, key, shared_cols)
        keys += ks
    size = sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
    return {"rows": len(keys), "key_hash": str(key_hash(keys)), "bytes": size}


def ivf_centroids(unit, ids, k=16, iterations=3):
    """The store's IVF model, trained like the program's session model: k
    unit vectors seeded from the first k ids, then Lloyd iterations of
    max-cosine assignment and renormalized means (an empty cell keeps its
    centroid). Ids of the seed vectors name the cells."""
    cvec = unit[:k].copy()
    for _ in range(iterations):
        cell = np.argmax(unit @ cvec.T, axis=1)
        for c in range(k):
            members = unit[cell == c]
            if len(members):
                m = members.mean(axis=0)
                cvec[c] = m / np.linalg.norm(m)
    return ids[:k].astype(np.int64), cvec


def gen_corpus(rng, d):
    """Documents + unit vectors + centroids for the ingest/serve store, plus the slice plan
    and the lookup query set."""
    os.makedirs(d)
    n = DOCS_BOOTSTRAP + DOCS_PER_FOLD * FOLDS_AVAILABLE
    ids = rng.permutation(n).astype(np.int64)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), int(rng.integers(20, 80)))])
             for _ in range(n)]
    # A sprinkle of near-duplicates and a rare term, like the source corpus.
    for i in range(0, n, 25):
        texts[i] = texts[i - 1] + " dup" if i else texts[i]
    lang = [LANGS[j] for j in rng.integers(0, len(LANGS), n)]
    source = [f"src{j}" for j in rng.integers(0, 20, n)]
    docs = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    label = rng.integers(0, 10, n)
    emb = centers[label] + rng.normal(0, 0.6, (n, EMBED_DIM))
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    vecs = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "label": pa.array(label.astype(np.int32), pa.int32()),
        "unit": pa.array(list(unit), pa.list_(pa.float64())),
    })
    cid, cvec = ivf_centroids(unit[:DOCS_BOOTSTRAP], ids[:DOCS_BOOTSTRAP])
    cents = pa.table({"cid": pa.array(cid, pa.int64()),
                      "cvec": pa.array(list(cvec), pa.list_(pa.float64()))})
    pq.write_table(docs, os.path.join(d, "documents.parquet"))
    pq.write_table(vecs, os.path.join(d, "vectors.parquet"))
    pq.write_table(cents, os.path.join(d, "centroids.parquet"))
    boot = [int(i) for i in ids[:DOCS_BOOTSTRAP]]
    queries = []
    for _ in range(LOOKUP_QUERIES):
        terms = sorted(set(rng.choice(VOCAB, size=int(rng.integers(2, 4)))))
        queries.append({"terms": terms,
                        "vec_id": boot[int(rng.integers(0, len(boot)))]})
    return {"docs": n, "bootstrap": DOCS_BOOTSTRAP,
            "per_fold": DOCS_PER_FOLD, "order": [int(i) for i in ids],
            "queries": queries}


def generate(workload, seed, out):
    """Writes the inputs of `workload` for `seed` under `out` (once: a
    finished directory holds MANIFEST.json and is reused). Returns the
    manifest."""
    manifest_path = os.path.join(out, "MANIFEST.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    if workload == "convert":
        manifest = {"csv": gen_csv(rng, os.path.join(tmp, "lineitem.csv")),
                    "xlsx": gen_xlsx(rng, os.path.join(tmp, "orders_xlsx"))}
    elif workload == "ingest_serve":
        manifest = gen_corpus(rng, os.path.join(tmp, "corpus"))
    else:
        manifest = {}
    manifest["seed"] = seed
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return manifest


if __name__ == "__main__":
    import sys
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]))[:400])
