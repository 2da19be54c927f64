"""Seeded input generator for the three benchmark workloads.

    python3 perfbench/gen.py --workload etl_harmonize --seed 7 --out DIR [--size tiny|full]

Writes the workload's input files into DIR plus `manifest.json`, which
holds the planted facts the output checks compare against (row counts,
planted duplicate groups, contaminated ids, query batches). The engine
only ever reads the data files; the manifest is read by the harness.
The same (workload, seed, size) always produces byte-identical files.
"""
import argparse
import json
import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes

SIZES = {
    "etl_harmonize": {
        "full": {"rows": 6_000, "xlsx_rows": 600},
        "tiny": {"rows": 3_000, "xlsx_rows": 60},
    },
    "ann_serve": {
        "full": {"vectors": 2_000, "clusters": 4, "dim": 64, "centroids_per_cluster": 2,
                 "insert_batches": 20, "insert_size": 16,
                 "query_batches": 200, "query_size": 8},
        "tiny": {"vectors": 600, "clusters": 4, "dim": 16, "centroids_per_cluster": 2,
                 "insert_batches": 6, "insert_size": 8,
                 "query_batches": 40, "query_size": 4},
    },
    "llm_curate": {
        "full": {"docs": 4_000, "batches": 3, "vocab": 8_000, "eval_docs": 40},
        "tiny": {"docs": 400, "batches": 3, "vocab": 600, "eval_docs": 8},
    },
}


def rng_for(seed, *stream):
    return np.random.default_rng([int(seed), *stream])


# ---------------------------------------------------------------- etl

# logical column -> per-file header spelling (case/space drift that the
# engine's column standardization must reconcile)
ETL_FILES = [
    ("s0.csv", {"rec_id": "Rec ID", "amount": "Amount", "qty": "Qty",
                "score": "Score", "rate": "Rate", "sku": "SKU", "segment": "Segment"}),
    ("s1.json", {"rec_id": "rec_id", "amount": "amount", "qty": "QTY",
                 "score": "score", "rate": "rate", "sku": "sku", "segment": "segment"}),
    ("s2.parquet", {"rec_id": "REC ID", "amount": "Amount", "qty": "qty",
                    "score": "Score", "rate": "RATE", "sku": "Sku", "segment": "Segment"}),
    ("s3.csv", {"rec_id": "rec id", "amount": "AMOUNT", "qty": "qty",
                "score": "SCORE", "rate": "Rate", "sku": "sku", "segment": "SEGMENT"}),
    ("s4.json", {"rec_id": "Rec_ID", "amount": "Amount", "qty": "Qty",
                 "score": "Score", "rate": "Rate", "sku": "SKU", "segment": "Segment"}),
    ("s5.xlsx", {"rec_id": "Rec ID", "amount": "Amount", "qty": "Qty",
                 "score": "Score", "rate": "Rate", "sku": "SKU", "segment": "Segment"}),
]
JUNK = ["n/a", "?", "--", "N.A.", "missing"]
NUMERIC = ["amount", "qty", "score", "rate"]


def etl_frame(rng, n, file_no):
    """One source's logical columns as numpy arrays (before dirtying)."""
    amount_log = rng.normal(3.0, 0.8, n)
    score = rng.normal(0.0, 1.0, n)
    z = 0.9 * (amount_log - 3.0) / 0.8 + 0.7 * score + rng.normal(0.0, 0.45, n)
    segment = np.digitize(z, [-0.7, 0.7]).astype(np.int64)  # planted label 0..2
    return {
        "rec_id": np.arange(n, dtype=np.int64),
        "amount": np.round(np.exp(amount_log), 2),
        "qty": rng.integers(1, 50, n).astype(np.float64),
        "score": np.round(score, 4),
        "rate": np.round(rng.uniform(0.0, 1.0, n), 4),
        # high-cardinality string column: distinct across every file
        "sku": np.array([f"SKU{file_no}-{i:07d}-{h:04x}" for i, h in
                         enumerate(rng.integers(0, 1 << 16, n))], dtype=object),
        "segment": segment,
    }


def dirty(rng, cols, n, inf_as_text):
    """Null ~7% of the numeric cells, plant +-inf in `score`; return the
    per-column object arrays (None = null) and the planted counts."""
    out = {}
    for c in NUMERIC:
        v = cols[c].astype(object)
        v[rng.random(n) < 0.07] = None
        out[c] = v
    inf_mask = (rng.random(n) < 0.005) & np.array([x is not None for x in out["score"]])
    signs = np.where(rng.random(n) < 0.5, 1.0, -1.0)
    for i in np.nonzero(inf_mask)[0]:
        out["score"][i] = ("inf" if signs[i] > 0 else "-inf") if inf_as_text \
            else float("inf") * signs[i]
    return out


def write_csv(path, header, rows):
    with open(path, "w", encoding="utf-8") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join("" if v is None else str(v) for v in r) + "\n")


def xlsx_col(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path, header, rows):
    """Minimal one-sheet workbook (inline strings, numeric cells)."""
    def cell(ref, v):
        if v is None:
            return ""
        if isinstance(v, (int, float, np.integer, np.floating)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        esc = str(v).replace("&", "&amp;").replace("<", "&lt;")
        return f'<c r="{ref}" t="inlineStr"><is><t>{esc}</t></is></c>'
    lines = []
    for ri, r in enumerate([header] + rows, start=1):
        cells = "".join(cell(f"{xlsx_col(ci)}{ri}", v) for ci, v in enumerate(r))
        lines.append(f'<row r="{ri}">{cells}</row>')
    sheet = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
             '<sheetData>' + "".join(lines) + '</sheetData></worksheet>')
    ct = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
          '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
          '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
          '<Default Extension="xml" ContentType="application/xml"/>'
          '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
          '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
          '</Types>')
    rels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>')
    wb = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
          '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
          'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
          '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>')
    wbrels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
              '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
              '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
              '</Relationships>')
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in [("[Content_Types].xml", ct), ("_rels/.rels", rels),
                           ("xl/workbook.xml", wb), ("xl/_rels/workbook.xml.rels", wbrels),
                           ("xl/worksheets/sheet1.xml", sheet)]:
            zi = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            zi.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(zi, body)


def gen_etl(seed, size, out):
    p = SIZES["etl_harmonize"][size]
    n_big = (p["rows"] - p["xlsx_rows"]) // (len(ETL_FILES) - 1)
    files, total = [], 0
    for file_no, (name, names) in enumerate(ETL_FILES):
        rng = rng_for(seed, 1, file_no)
        n = p["xlsx_rows"] if name.endswith(".xlsx") else n_big
        cols = etl_frame(rng, n, file_no)
        path = os.path.join(out, name)
        logical = ["rec_id", "amount", "qty", "score", "rate", "sku", "segment"]
        header = [names[c] for c in logical]
        d = dirty(rng, cols, n, inf_as_text=not name.endswith(".parquet"))
        # amount/qty arrive as text with junk tokens in EVERY source (~1%,
        # at least once per file), so the column is text on every side of
        # the union and only the engine's numeric coercion cleans it
        for c in ("amount", "qty"):
            junk = (rng.random(n) < 0.01) | (np.arange(n) % 97 == 5)
            picks = rng.integers(0, len(JUNK), n)
            for i in np.nonzero(junk)[0]:
                d[c][i] = JUNK[picks[i]]
        if name.endswith(".parquet"):
            text = {c: [None if v is None else str(v) for v in d[c]] for c in ("amount", "qty")}
            arrays = [pa.array(cols["rec_id"]),
                      pa.array(text["amount"], type=pa.string()),
                      pa.array(text["qty"], type=pa.string()),
                      pa.array(list(d["score"]), type=pa.float64()),
                      pa.array(list(d["rate"]), type=pa.float64()),
                      pa.array(list(cols["sku"]), type=pa.string()),
                      pa.array(cols["segment"])]
            pq.write_table(pa.Table.from_arrays(arrays, names=header), path,
                           row_group_size=max(1, n // 4))
        else:
            rows =[[int(cols["rec_id"][i]), d["amount"][i], d["qty"][i], d["score"][i],
                     d["rate"][i], cols["sku"][i], int(cols["segment"][i])] for i in range(n)]
            if name.endswith(".csv"):
                write_csv(path, header, rows)
            elif name.endswith(".json"):
                with open(path, "w", encoding="utf-8") as f:
                    for r in rows:
                        rec = {}
                        for h, c, v in zip(header, logical, r):
                            if v is None:
                                continue
                            # a share of the numbers arrive as quoted text
                            if c in NUMERIC and isinstance(v, float) and (int(r[0]) % 5 == 0):
                                v = str(v)
                            rec[h] = v
                        f.write(json.dumps(rec) + "\n")
            else:
                # workbook cells: +-inf is not representable, keep it as text
                write_xlsx(path, header, rows)
        files.append({"name": name, "rows": n})
        total += n
    return {"files": files, "rows": total, "classes": 3,
            "numeric": ["rec_id", *NUMERIC, "segment"]}


# ---------------------------------------------------------------- ann

def unit(v):
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


def vec_table(ids, vecs, extra=None):
    cols = {"vec_id": pa.array(ids, type=pa.int64()),
            "e": pa.array([row for row in np.round(vecs, 6).tolist()],
                          type=pa.list_(pa.float64()))}
    if extra:
        cols.update(extra)
    return pa.table(cols)


def gen_ann(seed, size, out):
    p = SIZES["ann_serve"][size]
    rng = rng_for(seed, 2)
    dim, k = p["dim"], p["clusters"]
    centers = unit(rng.normal(size=(k, dim)))
    spread = 0.55 / np.sqrt(dim)

    def draw(n):
        lab = np.arange(n) % k  # balanced clusters, fixed sizes
        rng.shuffle(lab)
        return lab, unit(centers[lab] + rng.normal(scale=spread, size=(n, dim)))

    n = p["vectors"]
    labels, base = draw(n)
    pq.write_table(vec_table(np.arange(n), base), os.path.join(out, "vectors.parquet"),
                   row_group_size=max(1, n // 4))
    # index centroids are corpus members: the first `per` members of each
    # planted cluster (finer than the planted clusters)
    per = p["centroids_per_cluster"]
    cids = np.concatenate([np.nonzero(labels == c)[0][:per] for c in range(k)])
    pq.write_table(vec_table(np.sort(cids), base[np.sort(cids)]),
                   os.path.join(out, "centroids.parquet"))
    nb, bs = p["insert_batches"], p["insert_size"]
    _, ins = draw(nb * bs)
    ins_ids = n + np.arange(nb * bs)
    batch_no = np.repeat(np.arange(nb), bs)
    pq.write_table(vec_table(ins_ids, ins, {"batch": pa.array(batch_no, type=pa.int32())}),
                   os.path.join(out, "inserts.parquet"))
    queries = [sorted(rng.choice(n, p["query_size"], replace=False).tolist())
               for _ in range(p["query_batches"])]
    return {"vectors": n, "dim": dim, "clusters": k, "insert_batches": nb,
            "insert_size": bs, "queries": queries}


# ---------------------------------------------------------------- llm curate

def make_vocab(rng, v):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set()
    while len(words) < v:
        w = "".join(rng.choice(letters, rng.integers(3, 9)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def gen_curate(seed, size, out):
    p = SIZES["llm_curate"][size]
    vocab_rng = rng_for(seed, 3)
    vocab = make_vocab(vocab_rng, p["vocab"])
    ranks = np.arange(1, len(vocab) + 1)
    cdf = np.cumsum(1.0 / ranks ** 1.05)
    cdf /= cdf[-1]

    def words(rng, n):
        return list(vocab[np.minimum(np.searchsorted(cdf, rng.random(n)), len(vocab) - 1)])

    boiler = [words(vocab_rng, 18) for _ in range(3)]
    eval_docs = [words(vocab_rng, 60) for _ in range(p["eval_docs"])]
    pq.write_table(pa.table({"eval_id": pa.array(range(len(eval_docs)), type=pa.int64()),
                             "text": pa.array([" ".join(d) for d in eval_docs])}),
                   os.path.join(out, "eval.parquet"))
    batches = []
    for b in range(p["batches"]):
        rng = rng_for(seed, 4, b)
        n = p["docs"]
        id0 = b * 10_000_000
        kind = rng.random(n)
        # roles: 2% junk, 2% short, 4% exact copy, 5% near copy, 1%
        # contaminated, the rest plain documents
        docs, role = [], []
        plain = []
        for i in range(n):
            r = kind[i]
            if r < 0.02:
                role.append("junk")
            elif r < 0.04:
                role.append("short")
            elif r < 0.08 and plain:
                role.append("exact")
            elif r < 0.13 and plain:
                role.append("near")
            elif r < 0.14:
                role.append("contam")
            else:
                role.append("plain")
            body = words(rng, int(rng.integers(60, 160)))
            if role[-1] == "plain":
                plain.append(i)
            docs.append(body)
        exact_groups, near_groups = {}, {}
        contaminated = []
        free_src = []  # earlier plain documents not yet copied
        next_plain = 0
        for i in range(n):
            if role[i] == "junk":
                docs[i] = [("$$$ ### %%% &&&" if j % 2 else w)
                           for j, w in enumerate(docs[i][:30])]
            elif role[i] == "short":
                docs[i] = docs[i][:5]
            elif role[i] in ("exact", "near"):
                # copy an earlier plain document that is nobody else's source
                while next_plain < len(plain) and plain[next_plain] < i:
                    free_src.append(plain[next_plain])
                    next_plain += 1
                if not free_src:
                    role[i] = "plain"
                    continue
                k = int(rng.integers(0, len(free_src)))
                free_src[k], free_src[-1] = free_src[-1], free_src[k]
                src = free_src.pop()
                if role[i] == "exact":
                    docs[i] = list(docs[src])
                    exact_groups[src] = [src, i]
                else:
                    copy = list(docs[src])
                    for j in range(len(copy)):
                        if rng.random() < 0.01:
                            copy[j] = vocab[int(rng.integers(0, len(vocab)))]
                    docs[i] = copy
                    near_groups[src] = [src, i]
            elif role[i] == "contam":
                e = eval_docs[int(rng.integers(0, len(eval_docs)))]
                s = int(rng.integers(0, len(e) - 16))
                at = int(rng.integers(0, len(docs[i])))
                docs[i] = docs[i][:at] + e[s:s + 16] + docs[i][at:]
                contaminated.append(i)
        texts = []
        for i in range(n):
            d = docs[i]
            # shared boilerplate spans on ~30% of the non-junk documents
            if role[i] not in ("junk", "short") and rng.random() < 0.3:
                bp = boiler[int(rng.integers(0, len(boiler)))]
                d = (bp + d) if rng.random() < 0.5 else (d + bp)
            texts.append(" ".join(d))
        ids = np.arange(n, dtype=np.int64) + id0
        pq.write_table(pa.table({"doc_id": pa.array(ids), "text": pa.array(texts)}),
                       os.path.join(out, f"batch{b}.parquet"), row_group_size=max(1, n // 4))
        batches.append({
            "file": f"batch{b}.parquet", "docs": n,
            "low_quality": [int(ids[i]) for i in range(n) if role[i] in ("junk", "short")],
            "exact_groups": [[int(ids[j]) for j in g] for g in exact_groups.values()],
            "near_groups": [[int(ids[j]) for j in g] for g in near_groups.values()],
            "contaminated": [int(ids[i]) for i in contaminated],
        })
    return {"batches": batches, "seq_len": 2048}


GENERATORS = {"etl_harmonize": gen_etl, "ann_serve": gen_ann, "llm_curate": gen_curate}


def generate(workload, seed, size, out):
    os.makedirs(out, exist_ok=True)
    manifest = GENERATORS[workload](seed, size, out)
    manifest.update({"workload": workload, "seed": int(seed), "size": size})
    with open(os.path.join(out, "manifest.json"), "w", encoding="utf-8") as f:
        json.dump(manifest, f)
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--size", default="full", choices=["full", "tiny"])
    a = ap.parse_args()
    generate(a.workload, a.seed, a.size, a.out)


if __name__ == "__main__":
    main()
