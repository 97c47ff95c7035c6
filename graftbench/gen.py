"""Seeded, deterministic input generators for the graft benchmark.

Every generator takes the workload seed, writes its inputs under an
output directory, and writes the ground truth next to them (``truth_*``
files). The same seed gives byte-identical files. Nothing here imports
the program: the program only ever sees the files written here.
"""
import json
import os

import numpy as np

# -- beamline: SPEC corpus with planted peaks + EDF detector stacks ----------

SPEC_MOTORS = ["TH", "TTH", "CHI", "PHI"]
SPEC_LABELS = ["TH", "H", "K", "L", "Epoch", "Seconds", "Monitor", "Detector"]
MONITOR = 100000.0
SHAPES = ("gauss", "lorentz")


def _spec_scan(rng, scan_no, shape, points):
    """One `#S` block with a planted peak; returns (text, truth row)."""
    center = float(rng.uniform(10.0, 40.0))
    width = float(rng.uniform(0.04, 0.12))  # gaussian sigma / lorentzian HWHM
    height = float(rng.uniform(2000.0, 8000.0))
    bg = float(rng.uniform(5.0, 40.0))
    span = 6.0 * width if shape == "gauss" else 10.0 * width
    th = np.linspace(center - span, center + span, points) + rng.uniform(-0.2, 0.2) * width
    t = (th - center) / width
    prof = np.exp(-0.5 * t * t) if shape == "gauss" else 1.0 / (1.0 + t * t)
    mon = np.round(MONITOR * (1.0 + 0.01 * rng.standard_normal(points)))
    det = rng.poisson((bg + height * prof) * mon / MONITOR).astype(np.int64)
    h0, k0 = int(rng.integers(0, 3)), int(rng.integers(0, 3))
    l_axis = np.round(np.linspace(1.0, 3.0, points) + 0.1 * center, 5)
    lines = [
        f"#S {scan_no} ascan  TH {th[0]:.5f} {th[-1]:.5f} {points - 1} 1",
        "#D Sat Oct 17 04:00:00 2026",
        "#T 1  (Seconds)",
        f"#M {int(MONITOR)}  (Monitor)",
        "#G0 0 0 1 0 0 1 0 -1 0",
        "#G1 5.431 5.431 5.431 90 90 90 1.157 1.157 1.157 90 90 90",
        f"#Q {h0} {k0} {l_axis[0]:.5f}",
        f"#P0 {center:.5f} {2 * center:.5f} 90 0",
        "#L " + "  ".join(SPEC_LABELS),
    ]
    for i in range(points):
        lines.append(f"{th[i]:.6f} {h0} {k0} {l_axis[i]:.5f} {1000 * scan_no + i} 1 "
                     f"{int(mon[i])} {int(det[i])}")
    truth = {"scan": scan_no, "shape": shape, "center": round(center, 6),
             "width": round(width, 6), "height": round(height, 3), "bg": round(bg, 3),
             "points": points, "det_sum": int(det.sum())}
    return "\n".join(lines) + "\n\n", truth


def edf_block(frame, idx):
    """One EDF block (ASCII header padded to 512 bytes + uint16 pixels)."""
    h, w = frame.shape
    body = ("{\n"
            f"HeaderID = EH:{idx + 1:06d}:000000:000000 ;\n"
            f"Image = {idx + 1} ;\n"
            "ByteOrder = LowByteFirst ;\n"
            "DataType = UnsignedShort ;\n"
            f"Dim_1 = {w} ;\n"
            f"Dim_2 = {h} ;\n"
            f"Size = {w * h * 2} ;\n")
    pad = 512 - (len(body) + 2) % 512
    if pad != 512:
        body += " " * pad
    body += "}\n"
    return body.encode("ascii") + frame.astype("<u2").tobytes()


def beamline(out_dir, seed, n_files=32, scans_per_file=64, points=41,
             frames=16, size=64):
    """SPEC files whose scans each hold a gaussian or lorentzian peak
    (drawn per scan) and, per SPEC file, an EDF stack with a dark frame
    and a planted ring."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    scans, rings, files = [], [], []
    scan_no = 0
    for f in range(n_files):
        name = f"scans_{f:02d}"
        head = [f"#F {name}.spec", "#E 1760673600", "#D Sat Oct 17 04:00:00 2026",
                "#O0 " + "  ".join(SPEC_MOTORS), ""]
        parts = ["\n".join(head) + "\n"]
        for _ in range(scans_per_file):
            scan_no += 1
            shape = SHAPES[int(rng.integers(0, 2))]
            text, row = _spec_scan(rng, scan_no, shape, points)
            parts.append(text)
            row["file"] = name
            scans.append(row)
        with open(os.path.join(out_dir, name + ".spec"), "w") as fh:
            fh.write("".join(parts))
        # detector stack: dark frame + frames with a ring of radius r
        r = float(rng.uniform(0.2, 0.35) * size)
        cy, cx = size // 2, size // 2
        yy, xx = np.mgrid[0:size, 0:size]
        rad = np.sqrt((yy - cy) ** 2 + (xx - cx) ** 2)
        ring = 400.0 * np.exp(-0.5 * ((rad - r) / 1.5) ** 2)
        dark = rng.poisson(100.0, (size, size))
        blocks = [edf_block(dark, 0)]
        for i in range(frames):
            img = dark + rng.poisson(ring + 10.0)
            blocks.append(edf_block(np.minimum(img, 65535), i + 1))
        with open(os.path.join(out_dir, name + ".edf"), "wb") as fh:
            fh.write(b"".join(blocks))
        rings.append({"file": name, "radius": round(r, 4), "cx": cx, "cy": cy,
                      "frames": frames, "size": size})
        files.append(name)
    _write_truth(out_dir, "truth_scans.json", scans)
    _write_truth(out_dir, "truth_rings.json", rings)
    _write_truth(out_dir, "files.json", files)
    return files


# -- corpus curation: documents with planted duplicates ----------------------

BOILERPLATE = [
    "all rights reserved copyright the publisher terms of use apply",
    "click here to subscribe to our newsletter for daily updates",
    "share this article on social media follow us for more news",
    "cookies help us deliver our services by using our services you agree",
]


def _vocab(n):
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = []
    for i in range(n):
        s, j = "", i
        while True:
            s = letters[j % 26] + s
            j //= 26
            if j == 0:
                break
        out.append(s + letters[(i * 7) % 26] + letters[(i * 11) % 26])
    return out


def _lines(rng, words, cdf, n_lines):
    out = []
    for _ in range(n_lines):
        k = int(rng.integers(10, 18))
        idx = np.searchsorted(cdf, rng.random(k))
        out.append(" ".join(words[i] for i in idx))
    return out


def corpus(out_dir, seed, shards=4, n_docs=1000, vocab=4000):
    """`shards` independent corpus shards (`shard_XX/`), each curated
    on its own, as a crawl dump is."""
    rng = np.random.default_rng([seed, 2])
    words = _vocab(vocab)
    names = []
    for i in range(shards):
        name = f"shard_{i:02d}"
        corpus_shard(os.path.join(out_dir, name), rng, words, n_docs)
        names.append(name)
    _write_truth(out_dir, "shards.json", names)
    return names


def corpus_shard(out_dir, rng, words, n_docs, exact_frac=0.04, near_frac=0.06,
                 boiler_frac=0.3, junk_frac=0.05):
    """Zipf-vocabulary documents. Planted: exact duplicates, near
    duplicates (a few words replaced, Jaccard recorded), boilerplate
    lines shared across documents, and low-quality junk documents.
    Truth: `truth_pairs.json` lists every (original, copy) pair and
    `truth_junk.json` the junk documents."""
    os.makedirs(out_dir, exist_ok=True)
    vocab = len(words)
    p = 1.0 / np.arange(1, vocab + 1) ** 1.1
    cdf = np.cumsum(p / p.sum())
    n_exact = int(n_docs * exact_frac)
    n_near = int(n_docs * near_frac)
    n_junk = int(n_docs * junk_frac)
    n_base = n_docs - n_exact - n_near - n_junk
    docs, pairs = [], []
    for _ in range(n_base):
        ls = _lines(rng, words, cdf, int(rng.integers(4, 9)))
        if rng.random() < boiler_frac:
            ls.insert(int(rng.integers(0, len(ls) + 1)),
                      BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))])
        docs.append({"text": "\n".join(ls), "kind": "base"})
    for _ in range(n_junk):
        toks = rng.choice(["$$", "###", "...", "!!", "~~", "@@", "%"], int(rng.integers(20, 60)))
        docs.append({"text": " ".join(toks), "kind": "junk"})
    bases = [i for i, d in enumerate(docs) if d["kind"] == "base"]
    for _ in range(n_exact):
        src = int(rng.choice(bases))
        docs.append({"text": docs[src]["text"], "kind": "exact", "src": src})
    for _ in range(n_near):
        src = int(rng.choice(bases))
        toks = docs[src]["text"].split(" ")
        n_edit = max(1, int(len(toks) * rng.uniform(0.01, 0.03)))
        for j in rng.choice(len(toks), n_edit, replace=False):
            toks[j] = words[int(rng.integers(0, vocab))]
        docs.append({"text": " ".join(toks), "kind": "near", "src": src})
    order = rng.permutation(len(docs))  # copies do not sit next to their source
    doc_id = {int(old): new for new, old in enumerate(order)}
    rows = []
    for new, old in enumerate(order):
        d = docs[old]
        rows.append({"doc_id": new, "text": d["text"]})
        if "src" in d:
            pairs.append({"a": doc_id[d["src"]], "b": new, "kind": d["kind"],
                          "jaccard": round(_jaccard(docs[d["src"]]["text"], d["text"]), 4)})
    _write_parquet(os.path.join(out_dir, "docs.parquet"),
                   {"doc_id": ("int64", [r["doc_id"] for r in rows]),
                    "text": ("string", [r["text"] for r in rows])})
    junk = sorted(doc_id[i] for i, d in enumerate(docs) if d["kind"] == "junk")
    _write_truth(out_dir, "truth_pairs.json", sorted(pairs, key=lambda r: (r["a"], r["b"])))
    _write_truth(out_dir, "truth_junk.json", junk)
    return len(rows)


def _jaccard(a, b, k=5):
    def sh(t):
        w = t.split(" ")
        return {" ".join(w[i:i + k]) for i in range(max(1, len(w) - k + 1))}
    x, y = sh(a), sh(b)
    return len(x & y) / max(1, len(x | y))


# -- gate_mix: TPC-H-like tables + events/documents/embeddings ---------------

GATE_TABLE_SEED = 20240101  # gate tables are fixed; the workload seed sets query order
DOC_WORDS = ("a agg batch big column customer data dup fast filter group hash join key "
             "line merge order part query row scan slow small sort spark stream table "
             "the value vector window").split()


def gate_tables(out_dir, scale=1.0):
    """The ten tables the gate queries read, with the column names,
    types and value domains of the repository's test data (~sf0.01 at
    scale 1). Independent of the workload seed."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(GATE_TABLE_SEED)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_ev, n_doc, n_emb = int(15000 * scale), int(10000 * scale), int(500 * scale), int(500 * scale)

    def ts(days_from, n, lo, hi):
        base = np.datetime64(days_from, "us")
        return base + rng.integers(lo, hi, n).astype("timedelta64[D]")

    w = lambda name, cols: _write_parquet(os.path.join(out_dir, name + ".parquet"), cols)
    w("region", {"r_regionkey": ("int32", list(range(5))),
                 "r_name": ("string", ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    w("nation", {"n_nationkey": ("int32", list(range(25))),
                 "n_name": ("string", [f"NATION_{i}" for i in range(25)]),
                 "n_regionkey": ("int32", [i % 5 for i in range(25)])})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    w("customer", {"c_custkey": ("int64", np.arange(n_cust)),
                   "c_name": ("string", [f"Customer#{i:09d}" for i in range(n_cust)]),
                   "c_nationkey": ("int32", rng.integers(0, 25, n_cust)),
                   "c_acctbal": ("float64", np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
                   "c_mktsegment": ("string", segs[rng.integers(0, 5, n_cust)])})
    w("supplier", {"s_suppkey": ("int64", np.arange(n_supp)),
                   "s_name": ("string", [f"Supplier#{i:09d}" for i in range(n_supp)]),
                   "s_nationkey": ("int32", rng.integers(0, 25, n_supp)),
                   "s_acctbal": ("float64", np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    adj = np.array("red old cold hot new large small blue".split())
    noun = np.array("bolt anvil plate widget gear ring rod gizmo".split())
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    w("part", {"p_partkey": ("int64", np.arange(n_part)),
               "p_name": ("string", np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                                noun[rng.integers(0, 8, n_part)])),
               "p_brand": ("string", [f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
               "p_type": ("string", types[rng.integers(0, 6, n_part)]),
               "p_size": ("int32", rng.integers(1, 51, n_part)),
               "p_retailprice": ("float64", np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1))})
    o_date = ts("1995-01-01", n_ord, 0, 2404)
    w("orders", {"o_orderkey": ("int64", np.arange(n_ord)),
                 "o_custkey": ("int64", rng.integers(0, n_cust, n_ord)),
                 "o_orderstatus": ("string", np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
                 "o_totalprice": ("float64", np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
                 "o_orderdate": ("timestamp", o_date),
                 "o_orderpriority": ("string", np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                         "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)])})
    per = rng.integers(1, 8, n_ord)
    lk = np.repeat(np.arange(n_ord), per)
    ln = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    n_li = len(lk)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    w("lineitem", {"l_orderkey": ("int64", lk),
                   "l_partkey": ("int64", rng.integers(0, n_part, n_li)),
                   "l_suppkey": ("int64", rng.integers(0, n_supp, n_li)),
                   "l_linenumber": ("int32", ln),
                   "l_quantity": ("float64", qty),
                   "l_extendedprice": ("float64", np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
                   "l_discount": ("float64", rng.integers(0, 11, n_li) / 100.0),
                   "l_tax": ("float64", rng.integers(0, 9, n_li) / 100.0),
                   "l_returnflag": ("string", np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
                   "l_linestatus": ("string", np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
                   "l_shipdate": ("timestamp", o_date[lk] + rng.integers(1, 122, n_li).astype("timedelta64[D]"))})
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    w("events", {"event_id": ("int64", np.arange(n_ev)),
                 "ts": ("timestamp", np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]")),
                 "user_id": ("int64", rng.integers(0, max(2, int(150 * scale)), n_ev)),
                 "event_type": ("string", np.array(["click", "view", "purchase", "signup", "error"])[rng.integers(0, 5, n_ev)]),
                 "value": ("float64", np.round(rng.exponential(50.0, n_ev) + 0.01, 2)),
                 "props": ("string", [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    dw = np.array(DOC_WORDS)
    texts = []
    for _ in range(n_doc):
        texts.append(" ".join(dw[rng.integers(0, len(dw), int(rng.integers(8, 100)))]))
    for i in range(0, n_doc, 25):  # a few planted near-copies, as in the test data
        j = (i * 7 + 3) % n_doc
        texts[j] = texts[i] + " dup"
    w("documents", {"doc_id": ("int64", np.arange(n_doc)),
                    "text": ("string", texts),
                    "lang": ("string", np.array(["en", "en", "en", "fr", "es", "zh", "de"])[rng.integers(0, 7, n_doc)]),
                    "source": ("string", [f"src{i % 20}" for i in range(n_doc)]),
                    "n_chars": ("int64", [len(t) for t in texts])})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    w("embeddings", {"vec_id": ("int64", np.arange(n_emb)),
                     "embedding": ("list_float", list(emb)),
                     "label": ("int32", rng.integers(0, 10, n_emb))})


# -- shared helpers ----------------------------------------------------------

def _write_truth(out_dir, name, obj):
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(obj, fh, sort_keys=True, separators=(",", ":"))


def _write_parquet(path, cols):
    """Write a single-row-group parquet file with fixed writer options
    and no pandas metadata, so the bytes depend only on the values."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    arrays, names = [], []
    for name, (kind, values) in cols.items():
        if kind == "timestamp":
            arr = pa.array(np.asarray(values).astype("datetime64[us]"), type=pa.timestamp("us"))
        elif kind == "list_float":
            arr = pa.array([list(map(float, v)) for v in values], type=pa.list_(pa.float32()))
        elif kind == "string":
            arr = pa.array([str(v) for v in values], type=pa.string())
        else:
            arr = pa.array(np.asarray(values).astype(kind))
        arrays.append(arr)
        names.append(name)
    table = pa.Table.from_arrays(arrays, names=names)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30,
                   write_statistics=True, use_dictionary=True)
