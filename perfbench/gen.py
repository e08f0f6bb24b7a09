"""Seeded input generators for the pipeline benchmark.

Everything the program sees is made here from one integer seed: the
same seed writes byte-identical inputs. Generators return the facts the
output checks need (expected keys, near-duplicate groups, batch
membership), so checks never re-derive them from the program's output.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]
# rare words that keyword search queries look for
TOPIC = ["spark", "merge", "window", "stream", "table"]


def _vocab(n: int = 1500) -> list[str]:
    """Seed-independent content vocabulary: distinct syllable words."""
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "pa", "qu", "do"]
    words = []
    for i in range(n):
        w, j = "", i
        for _ in range(3):
            w += syl[j % len(syl)]
            j //= len(syl)
        words.append(w + str(i % 7))
    return words


VOCAB = _vocab()


def _sentence(rng: np.random.Generator, n_words: int) -> list[str]:
    out = []
    for _ in range(n_words):
        r = rng.random()
        if r < 0.01:
            out.append(TOPIC[rng.integers(len(TOPIC))])
        elif r < 0.3:
            out.append(STOPWORDS[rng.integers(len(STOPWORDS))])
        else:
            out.append(VOCAB[rng.integers(len(VOCAB))])
    return out


def make_documents(
    rng: np.random.Generator, n: int, dup_frac: float = 0.12, id_base: int = 0
) -> tuple[list[dict], list[list[int]]]:
    """``n`` prose-like docs; a ``dup_frac`` share are one-word edits of
    another doc (3-shingle Jaccard >= 0.85, far above the 0.8 dedup
    threshold). Ids are shuffled so a near-dup group's members land in
    different batches of any id-based split. Returns (rows, groups)."""
    n_dup = int(n * dup_frac)
    n_base = n - n_dup
    texts = [_sentence(rng, int(rng.integers(60, 140))) for _ in range(n_base)]
    parent = [-1] * n_base
    for _ in range(n_dup):
        p = int(rng.integers(n_base))
        words = list(texts[p])
        pos = int(rng.integers(len(words)))
        words[pos] = VOCAB[rng.integers(len(VOCAB))]
        texts.append(words)
        parent.append(p)
    ids = rng.permutation(n) + id_base
    rows = []
    langs = ["en", "en", "en", "de", "fr"]
    for i, words in enumerate(texts):
        text = " ".join(words) + "."
        rows.append(
            {
                "doc_id": int(ids[i]),
                "text": text,
                "lang": langs[int(rng.integers(len(langs)))],
                "source": f"src{int(rng.integers(5))}",
                "n_chars": len(text),
            }
        )
    groups: dict[int, list[int]] = {}
    for i, p in enumerate(parent):
        root = i if p < 0 else p
        groups.setdefault(root, []).append(int(ids[i]))
    return rows, [g for g in groups.values() if len(g) > 1]


def make_benchmark(
    rng: np.random.Generator, docs: list[dict], n_contam: int, n_clean: int, span: int = 14
) -> tuple[list[dict], set[int]]:
    """Held-out benchmark slice: ``n_contam`` items copy a ``span``-word
    excerpt from a random doc (those docs are contaminated at any n-gram
    size <= span), ``n_clean`` items are fresh text. Returns (rows,
    contaminated doc ids)."""
    rows, hit = [], set()
    picks = rng.choice(len(docs), size=n_contam, replace=False)
    for k, i in enumerate(picks):
        words = docs[int(i)]["text"].rstrip(".").split(" ")
        start = int(rng.integers(0, max(1, len(words) - span)))
        rows.append({"bench_id": k, "text": " ".join(words[start : start + span])})
        hit.add(docs[int(i)]["doc_id"])
    for k in range(n_clean):
        rows.append({"bench_id": n_contam + k, "text": " ".join(_sentence(rng, 30))})
    return rows, hit


def make_embeddings(
    rng: np.random.Generator, n: int, dim: int = 64, dup_frac: float = 0.12
) -> tuple[list[dict], list[list[int]]]:
    """Gaussian directions; a ``dup_frac`` share are tiny perturbations of
    another vector (cosine > 0.999). Ids shuffled like the documents."""
    n_dup = int(n * dup_frac)
    base = rng.standard_normal((n - n_dup, dim)).astype(np.float32)
    parents = rng.integers(0, n - n_dup, size=n_dup)
    dups = base[parents] + 0.002 * rng.standard_normal((n_dup, dim)).astype(np.float32)
    vecs = np.concatenate([base, dups])
    ids = rng.permutation(n)
    rows = [
        {"vec_id": int(ids[i]), "embedding": vecs[i].tolist(), "label": int(i % 10)}
        for i in range(n)
    ]
    groups: dict[int, list[int]] = {}
    for j, p in enumerate(parents):
        groups.setdefault(int(p), [int(ids[p])]).append(int(ids[n - n_dup + j]))
    return rows, list(groups.values())


def make_events(rng: np.random.Generator, n: int, days: int = 6) -> list[dict]:
    """Events over ``days`` calendar days whose value distribution drifts
    a little each day, so the PSI series is non-trivial."""
    t0 = dt.datetime(2024, 3, 1)
    secs = np.sort(rng.integers(0, days * 86400, size=n))
    day = secs // 86400
    value = np.round(rng.lognormal(3.0 + 0.08 * day, 0.6), 2)
    types = ["view", "click", "cart", "buy", "error"]
    return [
        {
            "event_id": i,
            "ts": t0 + dt.timedelta(seconds=int(secs[i]), microseconds=int(rng.integers(10**6))),
            "user_id": int(rng.integers(2000)),
            "event_type": types[int(rng.integers(len(types)))],
            "value": float(value[i]),
            "props": json.dumps({"k": int(rng.integers(100))}),
        }
        for i in range(n)
    ]


_SCHEMAS = {
    "documents": pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())]
    ),
    "embeddings": pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
    ),
    "events": pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
         ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]
    ),
    "benchmark": pa.schema([("bench_id", pa.int64()), ("text", pa.string())]),
}


def write_table(path: str, rows: list[dict], kind: str, extra: dict | None = None) -> None:
    """Write ``rows`` as one parquet file with the table's fixed schema;
    ``extra`` maps added column name -> (arrow type, values)."""
    schema = _SCHEMAS[kind]
    cols = {f.name: [r[f.name] for r in rows] for f in schema}
    table = pa.table(cols, schema=schema)
    for name, (typ, values) in (extra or {}).items():
        table = table.append_column(pa.field(name, typ), pa.array(values, typ))
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# ELT landing: the six known endpoints, several consecutive cycles
# ---------------------------------------------------------------------------

# Records per cycle at full size: about 5k orders (16-20k line rows at
# 1-6 items per order) plus 5k customers, the cycle size the ELT flow
# was sized against; the three smaller entity endpoints are set in
# proportion. A cycle at full size takes 25-30 s on a 4-core box, so the
# benchmark runs ELT_SCALE of it to fit its runs into the time budget.
ELT_FULL = {
    "tiktok_shop_orders": 2500,
    "misa_sale_orders": 2500,
    "misa_customers": 5000,
    "misa_contacts": 2000,
    "misa_stocks": 200,
    "misa_products": 1000,
}
ELT_SCALE = 0.05
ELT_SIZES = {k: int(v * ELT_SCALE) for k, v in ELT_FULL.items()}
APPEND_ENDPOINTS = ("tiktok_shop_orders", "misa_sale_orders")
UPSERT_KEY = {
    "misa_customers": "id",
    "misa_contacts": "id",
    "misa_stocks": "stock_code",
    "misa_products": "id",
}


def _tiktok_order(rng: np.random.Generator, oid: str) -> tuple[dict, list[tuple]]:
    n_items = int(rng.integers(1, 7))
    prods = rng.choice(5000, size=n_items, replace=False)
    items, keys = [], []
    for p in prods:
        sku = f"S{int(p)}-{int(rng.integers(3))}"
        items.append(
            {
                "product_id": f"P{int(p)}",
                "product_name": " ".join(_sentence(rng, 3)),
                "sku_id": sku,
                "quantity": str(int(rng.integers(1, 6))),
                "unit_price": f"{rng.uniform(1, 500):.2f}",
                "currency": "VND",
                "is_gift": "false",
                "sku_info": {"sku_name": sku, "sales_attributes": [{"name": "size", "value": "M"}]},
            }
        )
        keys.append((oid, f"P{int(p)}", sku))
    ts = 1_700_000_000 + int(rng.integers(10**6))
    order = {
        "order_id": oid,
        "order_status": ["COMPLETED", "UNPAID", "SHIPPED"][int(rng.integers(3))],
        "create_time": ts,
        "update_time": ts + 60,
        "payment_method": "COD",
        "order_amount": {"currency": "VND", "total_amount": f"{rng.uniform(10, 2000):.2f}"},
        "recipient_address": {"city": "HCM", "zipcode": f"{int(rng.integers(10**5)):05d}"},
        "line_items": items,
    }
    return order, keys


def _misa_order(rng: np.random.Generator, oid: int) -> tuple[dict, list[tuple]]:
    n_items = int(rng.integers(1, 7))
    maps, keys = [], []
    for j in range(n_items):
        mid = oid * 10 + j
        maps.append(
            {
                "id": mid,
                "product_code": f"PC{int(rng.integers(900))}",
                "unit": "pcs",
                "price": f"{rng.uniform(1, 900):.2f}",
                "amount": str(int(rng.integers(1, 9))),
                "is_promotion": False,
            }
        )
        keys.append((oid, mid))
    order = {
        "id": oid,
        "sale_order_no": f"SO{oid}",
        "account_name": f"acct{int(rng.integers(500))}",
        "status": "open",
        "sale_order_amount": f"{rng.uniform(10, 5000):.2f}",
        "sale_order_date": "2024-03-01",
        "modified_date": "2024-03-02",
        "sale_order_product_mappings": maps,
    }
    return order, keys


def _entity(name: str, key, version: str, rng: np.random.Generator) -> dict:
    word = VOCAB[int(rng.integers(len(VOCAB)))]
    if name == "misa_customers":
        return {"id": key, "account_name": f"acct {word}", "account_code": f"AC{key}",
                "annual_revenue": round(float(rng.uniform(1e3, 1e6)), 2),
                "description": version}
    if name == "misa_contacts":
        return {"id": key, "contact_name": f"contact {word}", "email": f"{word}@example.com",
                "description": version}
    if name == "misa_products":
        return {"id": key, "product_code": f"PR{key}", "product_name": word,
                "unit_price": round(float(rng.uniform(1, 900)), 2), "description": version}
    return {"stock_code": key, "stock_name": f"stock {word}", "description": version}


def make_landing(
    rng: np.random.Generator,
    root: str,
    cycles: int,
    redeliver: float = 0.2,
    newer: float = 0.3,
) -> list[dict]:
    """Write ``cycles`` landing roots ``root/cycle_<k>/<endpoint>/*.json``.

    Each cycle carries fresh keys; from the second cycle on, append
    endpoints also redeliver a ``redeliver`` share of earlier orders
    unchanged (PK rejection must drop them) and upsert endpoints resend
    a ``newer`` share of earlier keys with a new version marker (the
    upsert must keep exactly the newest). Returns one dict per cycle
    with the offered flattened rows per append endpoint and the
    cumulative expectations the checks compare against."""
    orders: dict[str, list[tuple[dict, list[tuple]]]] = {n: [] for n in APPEND_ENDPOINTS}
    latest: dict[str, dict] = {n: {} for n in UPSERT_KEY}
    staged_keys: dict[str, set] = {n: set() for n in APPEND_ENDPOINTS}
    out = []
    for k in range(cycles):
        land = os.path.join(root, f"cycle_{k}")
        info = {"root": land, "offered": {}, "new_keys": {}, "updated": 0, "records": 0}
        for name in APPEND_ENDPOINTS:
            fresh = []
            for i in range(ELT_SIZES[name]):
                if name == "tiktok_shop_orders":
                    fresh.append(_tiktok_order(rng, f"TT{k:03d}-{i:05d}"))
                else:
                    fresh.append(_misa_order(rng, 1_000_000 + k * 10_000 + i))
            again = []
            if orders[name]:
                m = int(len(fresh) * redeliver)
                idx = rng.choice(len(orders[name]), size=m, replace=False)
                again = [orders[name][int(i)] for i in idx]
            orders[name].extend(fresh)
            batch = fresh + again
            perm = rng.permutation(len(batch))
            _write_json(os.path.join(land, name), [batch[int(i)][0] for i in perm])
            info["records"] += len(batch)
            before = len(staged_keys[name])
            for _, keys in batch:
                staged_keys[name].update(keys)
            info["offered"][name] = sum(len(keys) for _, keys in batch)
            info["new_keys"][name] = len(staged_keys[name]) - before
        for name, key_col in UPSERT_KEY.items():
            version = f"v{k}"
            n_new = ELT_SIZES[name]
            base = len(latest[name])
            keys = [
                (f"ST{base + i:05d}" if key_col == "stock_code" else 10_000 * (k + 1) + i)
                for i in range(n_new)
            ]
            if latest[name]:
                old = sorted(latest[name], key=str)
                m = int(n_new * newer)
                idx = rng.choice(len(old), size=m, replace=False)
                keys += [old[int(i)] for i in idx]
                info["updated"] += m
            rows = [_entity(name, key, version, rng) for key in keys]
            for key in keys:
                latest[name][key] = version
            _write_json(os.path.join(land, name), rows)
            info["records"] += len(rows)
        info["staged_rows"] = {n: len(s) for n, s in staged_keys.items()}
        info["latest"] = {n: dict(v) for n, v in latest.items()}
        out.append(info)
    return out


def _write_json(dirpath: str, rows: list[dict]) -> None:
    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, "part-0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
