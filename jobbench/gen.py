"""Seeded input generators for the job benchmark.

Two fixtures, both a pure function of the seed:

* ``vehicles_csv`` writes a dirty used-car listings CSV with the reference's
  26 columns, every value a string. Cardinalities follow the real
  Craigslist file: ~40 manufacturers, hundreds of free-form ``model``
  values, 51 states, hundreds of regions; numerics carry junk (zero and
  absurd prices, 0/10,000,000 odometers, out-of-range and empty years,
  non-date ``posting_date`` rows); descriptions carry 4-digit years, the
  dealer keywords and the P1 spam phrases; ~2% of rows are exact
  duplicates.
* ``corpus`` writes ``documents.parquet`` and ``embeddings.parquet`` with
  the schema of the repo's synthetic fixtures (word-soup documents over a
  30-word vocabulary, 20 sources, 5 languages; 64-dim float embeddings
  with 10 labels). ``NEAR_DUP_SHARE`` of the documents and of the vectors
  are perturbed copies of earlier ones, so the dedup and kNN steps have
  real work to find.
"""
import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.02

MANUFACTURERS = [
    "ford", "chevrolet", "toyota", "honda", "nissan", "jeep", "ram", "gmc",
    "dodge", "bmw", "mercedes-benz", "subaru", "volkswagen", "hyundai", "kia",
    "lexus", "audi", "cadillac", "chrysler", "acura", "buick", "mazda",
    "infiniti", "lincoln", "volvo", "mitsubishi", "mini", "pontiac", "rover",
    "jaguar", "porsche", "mercury", "saturn", "alfa-romeo", "tesla", "fiat",
    "harley-davidson", "ferrari", "datsun", "aston-martin", "land rover"]
STATES = [
    "al", "ak", "az", "ar", "ca", "co", "ct", "dc", "de", "fl", "ga", "hi",
    "id", "il", "in", "ia", "ks", "ky", "la", "me", "md", "ma", "mi", "mn",
    "ms", "mo", "mt", "ne", "nv", "nh", "nj", "nm", "ny", "nc", "nd", "oh",
    "ok", "or", "pa", "ri", "sc", "sd", "tn", "tx", "ut", "vt", "va", "wa",
    "wv", "wi", "wy"]
CONDITIONS = ["good", "excellent", "like new", "fair", "new", "salvage", ""]
CONDITION_P = [0.29, 0.24, 0.05, 0.02, 0.01, 0.01, 0.38]
CYLINDERS = ["4 cylinders", "6 cylinders", "8 cylinders", "5 cylinders",
             "10 cylinders", "other", ""]
CYLINDERS_P = [0.18, 0.22, 0.17, 0.01, 0.01, 0.01, 0.40]
FUELS = ["gas", "diesel", "hybrid", "electric", "other", ""]
FUEL_P = [0.83, 0.07, 0.015, 0.005, 0.07, 0.01]
TITLES = ["clean", "rebuilt", "salvage", "lien", "missing", "parts only", ""]
TITLE_P = [0.94, 0.017, 0.009, 0.004, 0.002, 0.001, 0.027]
TRANSMISSIONS = ["automatic", "manual", "other", ""]
TRANSMISSION_P = [0.78, 0.06, 0.15, 0.01]
DRIVES = ["4wd", "fwd", "rwd", ""]
DRIVE_P = [0.31, 0.25, 0.14, 0.30]
SIZES = ["full-size", "mid-size", "compact", "sub-compact", ""]
SIZE_P = [0.15, 0.08, 0.05, 0.01, 0.71]
TYPES = ["sedan", "SUV", "pickup", "truck", "other", "coupe", "hatchback",
         "wagon", "van", "convertible", "mini-van", "offroad", "bus", ""]
TYPE_P = [0.20, 0.18, 0.10, 0.08, 0.05, 0.045, 0.04, 0.025, 0.02, 0.018,
          0.012, 0.003, 0.002, 0.225]
COLORS = ["white", "black", "silver", "blue", "red", "grey", "green",
          "custom", "brown", "yellow", "orange", "purple", ""]
COLOR_P = [0.18, 0.15, 0.10, 0.07, 0.07, 0.06, 0.02, 0.02, 0.015, 0.005,
           0.004, 0.002, 0.304]
TRIMS = ["", "", "", "xlt", "lx", "ex", "se", "le", "sport", "limited",
         "touring", "4x4", "awd", "premium", "base", "gt", "sl", "sv", "lt",
         "ls", "platinum", "hybrid", "crew cab", "4dr"]
SYLLABLES = ["ca", "ro", "al", "ti", "ma", "ve", "ex", "pl", "or", "sa",
             "en", "cor", "ac", "cord", "mu", "ra", "no", "x", "ze", "li",
             "ta", "ri", "on", "es", "ka", "do", "vi", "sun", "la", "mo"]
TOWNS = ["springfield", "fairview", "riverside", "franklin", "greenville",
         "clinton", "salem", "madison", "georgetown", "arlington", "ashland",
         "dover", "oxford", "jackson", "burlington", "manchester", "milton"]

DESC_FILLER = [
    "runs and drives great", "clean title in hand", "new tires",
    "cold ac", "one owner", "well maintained", "no accidents",
    "regular oil changes", "minor scratches", "leather seats",
    "backup camera", "bluetooth", "towing package", "garage kept",
    "must see", "priced to sell", "serious buyers only", "text me",
    "low miles for the year", "needs some work"]
DEALER_PHRASES = [
    "carvana", "vroom", "shift", "carMax", "finance available",
    "call us today", "guaranteed approval", "inspection report",
    "schedule a test drive", "visit our lot", "automotive group",
    "dealer auction"]
SPAM_PHRASES = ["cash for cars", "we are buying", "please provide photos"]


def _choice(rng, values, p, n):
    p = np.asarray(p, dtype=float)
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p / p.sum())]


def _zipf_weights(n, s=1.1):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _model_names(rng, manufacturer_count):
    """Per-manufacturer base model names, 12-48 each (~1200 in total)."""
    out = []
    for _ in range(manufacturer_count):
        k = int(rng.integers(12, 49))
        names = set()
        while len(names) < k:
            parts = rng.choice(len(SYLLABLES), int(rng.integers(2, 4)))
            name = "".join(SYLLABLES[i] for i in parts)
            if rng.random() < 0.3:
                name += f" {int(rng.integers(1, 30)) * 50}"
            names.add(name)
        out.append(sorted(names))
    return out


def vehicles_rows(seed, rows):
    """The vehicles table as a list of 26-string rows (header excluded)."""
    rng = np.random.default_rng(seed)
    n_base = rows - int(rows * EXACT_DUP_SHARE)
    man_idx = rng.choice(len(MANUFACTURERS), n_base,
                         p=_zipf_weights(len(MANUFACTURERS), 1.0))
    models = _model_names(rng, len(MANUFACTURERS))
    state_idx = rng.choice(len(STATES), n_base, p=_zipf_weights(len(STATES), 0.6))
    regions = [f"{TOWNS[i % len(TOWNS)]} {s}" for s in STATES for i in range(8)]

    price = np.round(np.exp(rng.normal(9.6, 0.75, n_base))).astype(np.int64)
    price_s = price.astype(str).astype(object)
    junk = rng.random(n_base)
    price_s[junk < 0.08] = "0"
    price_s[(junk >= 0.08) & (junk < 0.085)] = "3736928711"
    price_s[(junk >= 0.085) & (junk < 0.09)] = ""
    price_s[(junk >= 0.09) & (junk < 0.092)] = "1"

    year = np.clip(np.round(rng.normal(2012, 5.5, n_base)), 1960, 2021).astype(np.int64)
    year_s = year.astype(str).astype(object)
    junk = rng.random(n_base)
    year_s[junk < 0.003] = ""
    year_s[(junk >= 0.003) & (junk < 0.004)] = "1900"
    year_s[(junk >= 0.004) & (junk < 0.005)] = "3500"

    odo = np.round(np.exp(rng.normal(11.2, 0.8, n_base))).astype(np.int64)
    odo_s = odo.astype(str).astype(object)
    junk = rng.random(n_base)
    odo_s[junk < 0.01] = "0"
    odo_s[(junk >= 0.01) & (junk < 0.013)] = "10000000"
    odo_s[(junk >= 0.013) & (junk < 0.03)] = ""

    condition = _choice(rng, CONDITIONS, CONDITION_P, n_base)
    cylinders = _choice(rng, CYLINDERS, CYLINDERS_P, n_base)
    fuel = _choice(rng, FUELS, FUEL_P, n_base)
    title = _choice(rng, TITLES, TITLE_P, n_base)
    trans = _choice(rng, TRANSMISSIONS, TRANSMISSION_P, n_base)
    drive = _choice(rng, DRIVES, DRIVE_P, n_base)
    size = _choice(rng, SIZES, SIZE_P, n_base)
    vtype = _choice(rng, TYPES, TYPE_P, n_base)
    color = _choice(rng, COLORS, COLOR_P, n_base)
    lat = rng.uniform(25.0, 49.0, n_base)
    lon = rng.uniform(-124.0, -67.0, n_base)
    day = rng.integers(0, 60, n_base)
    sec = rng.integers(0, 86400, n_base)
    date_junk = rng.random(n_base)
    vin_chars = np.array(list("ABCDEFGHJKLMNPRSTUVWXYZ0123456789"))

    out = []
    for i in range(n_base):
        mi = int(man_idx[i])
        man = MANUFACTURERS[mi] if rng.random() > 0.04 else ""
        ml = models[mi]
        base = ml[int(min(rng.zipf(1.4), len(ml)) - 1)]
        trim = TRIMS[int(rng.integers(len(TRIMS)))]
        model = f"{base} {trim}".strip() if rng.random() > 0.012 else ""
        st = STATES[int(state_idx[i])]
        region = regions[int(state_idx[i]) * 8 + int(rng.integers(8))]
        lid = 7300000000 + seed % 1000 * 100000 + i
        words = [DESC_FILLER[int(j)] for j in rng.choice(len(DESC_FILLER), int(rng.integers(3, 9)))]
        if rng.random() < 0.75:
            words.insert(0, f"{year_s[i] or '2010'} {man or 'car'} {base}")
        r = rng.random()
        if r < 0.25:
            words.append(DEALER_PHRASES[int(rng.integers(len(DEALER_PHRASES)))])
        elif r < 0.30:
            words.append(SPAM_PHRASES[int(rng.integers(len(SPAM_PHRASES)))])
        if rng.random() < 0.2:
            words.append(f"serviced in {int(rng.integers(1950, 2022))}")
        desc = ", ".join(words) if rng.random() > 0.01 else ""
        d = int(day[i])
        if date_junk[i] < 0.003:
            posting = ""
        elif date_junk[i] < 0.006:
            posting = "no date listed"
        else:
            s = int(sec[i])
            posting = (f"2021-{4 + d // 30:02d}-{1 + d % 30:02d}T"
                       f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}-0500")
        vin = "".join(rng.choice(vin_chars, 17)) if rng.random() > 0.4 else ""
        out.append([
            str(lid), f"https://{region.split()[0]}.craigslist.org/cto/d/{lid}.html",
            region, f"https://{region.split()[0]}.craigslist.org",
            price_s[i], year_s[i], man, model, condition[i], cylinders[i],
            fuel[i], odo_s[i], title[i], trans[i], vin, drive[i], size[i],
            vtype[i], color[i], f"https://images.craigslist.org/{lid}_600x450.jpg",
            desc, "", st, f"{lat[i]:.4f}", f"{lon[i]:.4f}", posting])
    dups = rng.choice(n_base, rows - n_base)
    out.extend(list(out[int(j)]) for j in dups)
    order = rng.permutation(len(out))
    return [out[int(j)] for j in order]


VEHICLE_COLUMNS = [
    "id", "url", "region", "region_url", "price", "year", "manufacturer",
    "model", "condition", "cylinders", "fuel", "odometer", "title_status",
    "transmission", "VIN", "drive", "size", "type", "paint_color",
    "image_url", "description", "county", "state", "lat", "long",
    "posting_date"]


def vehicles_csv(path, seed, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(VEHICLE_COLUMNS)
        w.writerows(vehicles_rows(seed, rows))


VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def corpus(out_dir, seed, docs, vecs):
    """documents.parquet + embeddings.parquet, each one file, one row group."""
    rng = np.random.default_rng(seed)
    texts = []
    for i in range(docs):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            toks = texts[int(rng.integers(i))].split()
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(len(toks)))] = "dup"
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[int(j)] for j in rng.integers(0, len(VOCAB), n)))
    lang = _choice(rng, LANGS, LANG_P, docs)
    doc_tbl = pa.table({
        "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(list(lang), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, vecs).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    emb = centroids[labels] * 0.5 + rng.normal(0.0, 1.0, (vecs, 64))
    for i in range(1, vecs):
        if rng.random() < NEAR_DUP_SHARE:
            emb[i] = emb[int(rng.integers(i))] + rng.normal(0.0, 0.01, 64)
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    emb_tbl = pa.table({
        "vec_id": pa.array(np.arange(vecs, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(doc_tbl, os.path.join(out_dir, "documents.parquet"),
                   row_group_size=docs)
    pq.write_table(emb_tbl, os.path.join(out_dir, "embeddings.parquet"),
                   row_group_size=vecs)

