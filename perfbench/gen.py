"""Seeded input generator for the catalog benchmark.

One numpy/pyarrow process, no Spark. ``generate(workload, seed, root)``
writes the inputs of one workload under ``root/<workload>/seed-<n>/`` and
returns that directory; a directory that already holds a complete input
set (its ``_done`` marker exists) is reused, so each seed is generated
once per checkout. The same seed always gives byte-identical inputs.

Sizes are module constants so that the benchmark description, the
generator and the reference agree on one number.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# grocery_onboard
GROCERY_STAGED = 40_000
GROCERY_MASTER = 20_000
GROCERY_EXISTING_SHARE = 0.20  # of staged keys already in the catalog
GROCERY_PRICE_CHANGED_SHARE = 0.10  # of existing rows
GROCERY_VALID_UPC_SHARE = 0.60  # of staged rows
GROCERY_UPC_IN_MASTER_SHARE = 0.50  # of valid-UPC rows
GROCERY_NAME_HIT_SHARE = 0.15  # of the other staged rows, name found in master
GROCERY_MASTER_DUP_NAME_SHARE = 0.05  # master rows repeating another row's name

# menu_match
MENU_PDFS = 40
MENU_ITEMS_PER_PDF = 10
MENU_CORPUS = 40_000
MENU_DIM = 32
MENU_IN_MASTER_SHARE = 0.60
# failure shares of the LLM stand-in, chosen rather than taken from a real
# service: large enough that every pass retries and falls back on some rows
MENU_FAIL_ONCE_SHARE = 0.10  # stand-in: first call for the row fails
MENU_FAIL_ALWAYS_SHARE = 0.03  # stand-in: every call for the row fails

# catalog_delta
DELTA_TARGET = 20_000
DELTA_FILES = 20
DELTA_ROWS_PER_FILE = 1_000
DELTA_UPDATE_SHARE = 0.5  # rest are new keys
DELTA_WARMUP_FILES = 2

WORKLOADS = ("grocery_onboard", "menu_match", "catalog_delta")

_WORDS = (
    "apple bean berry bread butter candy cheese chili cocoa coffee corn cream "
    "curry flour garlic ginger grape honey jam juice lemon lime mango maple "
    "milk mint noodle oat olive onion orange pasta peach peanut pear pepper "
    "pickle plum pork rice salsa salt soda soup spice sugar tea tofu tomato "
    "tuna vanilla walnut wheat yogurt"
).split()
_CATEGORIES = ("Appetizers", "Beverages", "Desserts", "Pizza", "Salads", "Soups")


def hash_embedding(text: str, dim: int) -> list[float]:
    """md5 embedding with the formula of ``vectors.hash_embedding_expr``."""
    out = []
    for i in range(dim):
        h = hashlib.md5(f"{text}_{i}".encode()).hexdigest()
        out.append((int(h[:15], 16) % 2000) / 1000.0 - 1.0)
    return out


def _names(rng: np.random.Generator, n: int, tag: str) -> np.ndarray:
    """``n`` distinct product names: two words plus a unique number."""
    a = rng.integers(0, len(_WORDS), n)
    b = rng.integers(0, len(_WORDS), n)
    ids = rng.permutation(n)
    return np.array(
        [f"{_WORDS[x].title()} {_WORDS[y]} {tag}{k}" for x, y, k in zip(a, b, ids)],
        dtype=object,
    )


def _gtin12(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct 12-digit codes with a valid GTIN check digit."""
    base = rng.choice(10**11 - 10**10, size=n, replace=False) + 10**10
    out = []
    for b in base:
        digits = str(int(b))
        # positions from the right (check digit = 1): even positions weigh 3
        total = sum(int(d) * (3 if i % 2 == 0 else 1) for i, d in enumerate(reversed(digits)))
        out.append(digits + str((10 - total % 10) % 10))
    return np.array(out, dtype=object)


def _write_parquet(path: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(cols, schema=schema), path)


def _grocery(d: str, rng: np.random.Generator) -> None:
    n = GROCERY_STAGED
    n_upc = int(n * GROCERY_VALID_UPC_SHARE)
    n_upc_master = int(n_upc * GROCERY_UPC_IN_MASTER_SHARE)
    names = _names(rng, n, "g")
    upcs = _gtin12(rng, n_upc)
    # invalid codes: wrong check digit, wrong length, or letters mixed in
    bad = []
    for k in range(n - n_upc):
        kind = k % 3
        if kind == 0:
            c = upcs[k % n_upc]
            bad.append(c[:-1] + str((int(c[-1]) + 1) % 10))
        elif kind == 1:
            bad.append(f"{k:09d}")
        else:
            bad.append(f"SKU-{k:08d}")
    codes = np.concatenate([upcs, np.array(bad, dtype=object)])
    # one valid code in ten is exported with a separator; normalize_upc strips it
    fmt = rng.random(n_upc) < 0.1
    codes[:n_upc] = np.where(fmt, [c[:6] + "-" + c[6:] for c in upcs], upcs)
    order = rng.permutation(n)
    codes, kinds = codes[order], np.concatenate(
        [np.where(np.arange(n_upc) < n_upc_master, 1, 2), np.zeros(n - n_upc, int)]
    )[order]
    digits = np.array([c.replace("-", "") for c in codes], dtype=object)

    qty = np.round(rng.uniform(-5, 200, n)).astype(float)
    qty_null = rng.random(n) < 0.05  # exported empty; the reader fills 0
    price = np.round(rng.uniform(0.5, 60.0, n), 2)
    price_null = rng.random(n) < 0.01
    is_tax = rng.random(n) < 0.4

    # master: UPC hits, name-hit targets for non-UPC-hit rows, then filler
    upc_hit = np.flatnonzero(kinds == 1)
    others = np.flatnonzero(kinds != 1)
    n_name = int(len(others) * GROCERY_NAME_HIT_SHARE)
    name_hit = rng.choice(others, size=n_name, replace=False)
    n_fill = GROCERY_MASTER - len(upc_hit) - n_name
    if n_fill < 0:
        raise ValueError("master smaller than its hit rows")
    m_names = np.concatenate(
        [
            # UPC-matched master rows carry their own catalog name
            _names(rng, len(upc_hit), "mu"),
            names[name_hit],
            _names(rng, n_fill, "mf"),
        ]
    )
    m_upc = np.concatenate(
        [digits[upc_hit], np.full(n_name, None, dtype=object), np.full(n_fill, None, dtype=object)]
    )
    n_dup = int(GROCERY_MASTER * GROCERY_MASTER_DUP_NAME_SHARE)
    dup_src = rng.choice(GROCERY_MASTER, size=n_dup, replace=False)
    dup_dst = rng.choice(
        np.setdiff1d(np.arange(GROCERY_MASTER), dup_src), size=n_dup, replace=False
    )
    m_names[dup_dst] = m_names[dup_src]
    m_order = rng.permutation(GROCERY_MASTER)
    m_names, m_upc = m_names[m_order], m_upc[m_order]
    m_ids = np.array([f"M{k:07d}" for k in range(GROCERY_MASTER)], dtype=object)
    brand = rng.integers(0, len(_WORDS), GROCERY_MASTER)
    cat = rng.integers(0, len(_CATEGORIES), GROCERY_MASTER)
    _write_parquet(
        os.path.join(d, "master.parquet"),
        {
            "afto_product_id": m_ids,
            "name": m_names,
            "description": [f"Catalog entry for {x}" for x in m_names],
            "upc_code": m_upc,
            "brand_name": [f"{_WORDS[b].title()} Co" for b in brand],
            "category_name": [_CATEGORIES[c] for c in cat],
        },
        pa.schema(
            [
                ("afto_product_id", pa.string()),
                ("name", pa.string()),
                ("description", pa.string()),
                ("upc_code", pa.string()),
                ("brand_name", pa.string()),
                ("category_name", pa.string()),
            ]
        ),
    )

    # staged names: name-hit rows sometimes padded (the match trims both sides)
    s_names = names.copy()
    pad = rng.random(n) < 0.1
    s_names[pad] = [f"  {x} " for x in s_names[pad]]
    pacsv.write_csv(
        pa.table(
            {
                "Article": codes,
                "Description": s_names,
                "QteMain": pa.array(qty, mask=qty_null),
                "Taxe2": is_tax,
                "PrixVente": pa.array(price, mask=price_null),
            }
        ),
        os.path.join(d, "staged.csv"),
    )

    n_ex = int(n * GROCERY_EXISTING_SHARE)
    ex = rng.choice(n, size=n_ex, replace=False)
    ex_price = price[ex].copy()
    changed = rng.random(n_ex) < GROCERY_PRICE_CHANGED_SHARE
    ex_price[changed] = np.round(ex_price[changed] + rng.uniform(0.1, 5.0, changed.sum()), 2)
    _write_parquet(
        os.path.join(d, "existing.parquet"),
        {
            "article_id": codes[ex],
            "price": ex_price,
            "tax_percentage": np.where(is_tax[ex], 5.0, 0.0),
        },
        pa.schema(
            [("article_id", pa.string()), ("price", pa.float64()), ("tax_percentage", pa.float64())]
        ),
    )


def menu_item_id(menu: int, page: int, line: int) -> int:
    """Item key: menu number, page and line on the page."""
    return menu * 1000 + page * 100 + line


def menu_page_lines(items: list[tuple[str, str, float]]) -> str:
    """One menu page's text: ``name | category | price`` per line."""
    return "\n".join(f"{n} | {c} | {p:.2f}" for n, c, p in items)


def _menu(d: str, rng: np.random.Generator) -> None:
    from restaurant_etl_code_spark.multimodal.minipdf import encode_mini_pdf

    names = _names(rng, MENU_CORPUS, "d")
    emb = np.array([hash_embedding(x, MENU_DIM) for x in names], dtype=np.float64)
    _write_parquet(
        os.path.join(d, "corpus.parquet"),
        {
            "vec_id": np.arange(MENU_CORPUS, dtype=np.int64),
            "name": names,
            "embedding": list(emb),
        },
        pa.schema(
            [("vec_id", pa.int64()), ("name", pa.string()), ("embedding", pa.list_(pa.float64()))]
        ),
    )
    n_items = MENU_PDFS * MENU_ITEMS_PER_PDF
    in_master = rng.random(n_items) < MENU_IN_MASTER_SHARE
    fresh = _names(rng, n_items, "new")
    picked = names[rng.integers(0, MENU_CORPUS, n_items)]
    item_names = np.where(in_master, picked, fresh)
    pdf_dir = os.path.join(d, "menus")
    os.makedirs(pdf_dir)
    truth: dict[str, list] = {"item_id": [], "name": [], "category": [], "price": []}
    k = 0
    for m in range(MENU_PDFS):
        items = [
            (item_names[k + j], _CATEGORIES[int(rng.integers(len(_CATEGORIES)))],
             float(np.round(rng.uniform(3, 40), 2)))
            for j in range(MENU_ITEMS_PER_PDF)
        ]
        k += MENU_ITEMS_PER_PDF
        n_pages = 1 + m % 3
        per = -(-len(items) // n_pages)
        pages = []
        for p, i in enumerate(range(0, len(items), per)):
            pages.append(menu_page_lines(items[i : i + per]))
            for line, (name, cat, price) in enumerate(items[i : i + per]):
                truth["item_id"].append(menu_item_id(m, p, line))
                truth["name"].append(name)
                truth["category"].append(cat)
                truth["price"].append(price)
        with open(os.path.join(pdf_dir, f"menu_{m:04d}.pdf"), "wb") as fh:
            fh.write(encode_mini_pdf(pages, pdf15=m % 2 == 1))
    _write_parquet(
        os.path.join(d, "items_truth.parquet"),
        truth,
        pa.schema(
            [("item_id", pa.int64()), ("name", pa.string()), ("category", pa.string()),
             ("price", pa.float64())]
        ),
    )


def _delta(d: str, rng: np.random.Generator) -> None:
    schema = pa.schema(
        [
            ("product_id", pa.string()),
            ("name", pa.string()),
            ("price", pa.float64()),
            ("qty", pa.int32()),
            ("updated_seq", pa.int64()),
        ]
    )
    n = DELTA_TARGET
    keys = np.array([f"P{k:08d}" for k in range(n)], dtype=object)
    _write_parquet(
        os.path.join(d, "target.parquet"),
        {
            "product_id": keys,
            "name": _names(rng, n, "t"),
            "price": np.round(rng.uniform(1, 90, n), 2),
            "qty": rng.integers(0, 500, n).astype(np.int32),
            "updated_seq": np.zeros(n, dtype=np.int64),
        },
        schema,
    )
    next_new = n
    for sub, n_files in (("landing", DELTA_FILES), ("warmup", DELTA_WARMUP_FILES)):
        os.makedirs(os.path.join(d, sub))
        for f in range(n_files):
            n_upd = int(DELTA_ROWS_PER_FILE * DELTA_UPDATE_SHARE)
            n_new = DELTA_ROWS_PER_FILE - n_upd
            # updated keys drawn WITH replacement, as real exports repeat keys
            upd = keys[rng.integers(0, n, n_upd)]
            new = np.array([f"P{k:08d}" for k in range(next_new, next_new + n_new)], dtype=object)
            next_new += n_new
            pid = np.concatenate([upd, new])
            perm = rng.permutation(DELTA_ROWS_PER_FILE)
            pid = pid[perm]
            seq = (f + 1) * 100_000 + np.arange(DELTA_ROWS_PER_FILE, dtype=np.int64)
            path = os.path.join(d, sub, f"delta_{f:03d}.parquet")
            _write_parquet(
                path,
                {
                    "product_id": pid,
                    "name": _names(rng, DELTA_ROWS_PER_FILE, f"u{f}_"),
                    "price": np.round(rng.uniform(1, 90, DELTA_ROWS_PER_FILE), 2),
                    "qty": rng.integers(0, 500, DELTA_ROWS_PER_FILE).astype(np.int32),
                    "updated_seq": seq,
                },
                schema,
            )
            # the file source admits files oldest first: fix the arrival order
            t = 1_700_000_000 + f * 10
            os.utime(path, (t, t))


_GENERATORS = {"grocery_onboard": _grocery, "menu_match": _menu, "catalog_delta": _delta}


def generate(workload: str, seed: int, root: str) -> str:
    """Inputs of ``workload`` for ``seed`` under ``root``; cached per seed."""
    d = os.path.join(root, workload, f"seed-{seed}")
    if os.path.exists(os.path.join(d, "_done")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    # one stream per workload, so a workload's inputs depend only on the seed
    wl_index = WORKLOADS.index(workload)
    _GENERATORS[workload](d, np.random.default_rng([seed, wl_index]))
    open(os.path.join(d, "_done"), "w").close()
    return d
