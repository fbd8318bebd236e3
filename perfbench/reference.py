"""Independent correctness reference for the three workloads.

Computed without Spark, from the generated inputs only: DuckDB SQL for the
grocery cascade, its price updates, its match-type counts and the expected
delta target; numpy brute force for the menu top-1 neighbours; the stand-in's
schedule for the enrichment rows. Each ``check_*`` function compares a
program output with the reference and returns ``(expected_rows, failed_rows)``.

A row fails when its key is missing, when no output row for its key
matches the reference, and once for every extra output row under a key
(duplicate keys), so ``failed / expected`` is the workload's failed ratio.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

import gen
import standin

# the catalog_pipeline arguments the grocery workload uses; the reference
# below re-derives the same semantics in SQL
GROCERY_MASTER_COLS = {
    "description": "description",
    "brand": "brand_name",
    "category": "category_name",
    "master_product_id": "afto_product_id",
}
GROCERY_EMBED_DIM = 8
MENU_MIN_SCORE = 0.9


def _hash_embedding_sql(text: str, dim: int) -> str:
    return (
        f"list_transform(range({dim}), i -> "
        f"((('0x' || substring(md5({text} || '_' || i::VARCHAR), 1, 15))::BIGINT % 2000)"
        f"::DOUBLE / 1000.0 - 1.0))"
    )


def _gtin_valid_sql(u: str) -> str:
    total = (
        f"list_sum(list_transform(range(2, length({u}) + 1), "
        f"i -> substring(reverse({u}), i, 1)::INT * (CASE WHEN i % 2 = 0 THEN 3 ELSE 1 END)))"
    )
    return (
        f"(regexp_full_match({u}, '[0-9]+') AND length({u}) IN (8, 12, 13, 14) "
        f"AND (10 - ({total}) % 10) % 10 = substring(reverse({u}), 1, 1)::INT)"
    )


def score_rows(con, expected: str, actual: str, key: str, cols: list[str]) -> tuple[int, int]:
    """(expected rows, failed rows) between two relations keyed by ``key``."""
    match = " AND ".join(f"a.{c} IS NOT DISTINCT FROM e.{c}" for c in cols)
    n_exp, missing, per_key, unexpected = con.execute(
        f"""
        WITH a AS (SELECT * FROM {actual}), e AS (SELECT * FROM {expected}),
        k AS (
            SELECT a.{key} AS k, count(*) AS n, bool_or({match}) AS any_ok
            FROM a JOIN e USING ({key}) GROUP BY a.{key}
        )
        SELECT
            (SELECT count(*) FROM e),
            (SELECT count(*) FROM e ANTI JOIN a USING ({key})),
            (SELECT coalesce(sum((n - 1) + CASE WHEN any_ok THEN 0 ELSE 1 END), 0) FROM k),
            (SELECT count(*) FROM a ANTI JOIN e USING ({key}))
        """
    ).fetchone()
    return int(n_exp), int(missing + per_key + unexpected)


# --------------------------------------------------------------------------
# grocery_onboard
# --------------------------------------------------------------------------

def grocery_views(con, d: str) -> None:
    """Register the expected ``exp_products``, ``exp_updates`` and
    ``exp_match_stats`` relations for the inputs in ``d``."""
    staged_csv = os.path.join(d, "staged.csv")
    con.execute(
        f"""
        CREATE OR REPLACE TEMP VIEW staged AS
        SELECT Article AS article_id, Description AS product_name,
               coalesce(QteMain, 0.0) AS quantity, Taxe2 AS is_tax, PrixVente AS price
        FROM read_csv('{staged_csv}', header = true, quote = '"', columns = {{
            'Article': 'VARCHAR', 'Description': 'VARCHAR', 'QteMain': 'DOUBLE',
            'Taxe2': 'BOOLEAN', 'PrixVente': 'DOUBLE'}})
        WHERE Description IS NOT NULL AND Description <> ''
        """
    )
    con.execute(
        f"CREATE OR REPLACE TEMP VIEW existing AS "
        f"SELECT * FROM read_parquet('{os.path.join(d, 'existing.parquet')}')"
    )
    con.execute(
        f"CREATE OR REPLACE TEMP VIEW master AS "
        f"SELECT * FROM read_parquet('{os.path.join(d, 'master.parquet')}')"
    )
    mcols_u = ", ".join(f"{src} AS u_{dst}" for dst, src in GROCERY_MASTER_COLS.items())
    mcols_n = ", ".join(f"{src} AS n_{dst}" for dst, src in GROCERY_MASTER_COLS.items())
    picks = ",\n".join(
        f"CASE WHEN u_key IS NOT NULL THEN u_{c} WHEN n_key IS NOT NULL THEN n_{c} END AS {c}"
        for c in GROCERY_MASTER_COLS
    )
    content = "concat_ws('|', product_name, coalesce(description, product_name), brand)"
    con.execute(
        f"""
        CREATE OR REPLACE TEMP VIEW exp_products AS
        WITH fresh AS (
            SELECT s.*, nullif(regexp_replace(article_id, '[^0-9]', '', 'g'), '') AS digits
            FROM staged s ANTI JOIN (SELECT DISTINCT article_id FROM existing) USING (article_id)
        ), coded AS (
            SELECT *, CASE WHEN digits IS NOT NULL AND {_gtin_valid_sql('digits')}
                           THEN digits END AS upc
            FROM fresh
        ), mu AS (
            SELECT upc_code AS u_key, {mcols_u} FROM master WHERE upc_code IS NOT NULL
        ), mn AS (
            SELECT * EXCLUDE (rn) FROM (
                SELECT trim(name) AS n_key, {mcols_n},
                       row_number() OVER (PARTITION BY trim(name) ORDER BY afto_product_id) AS rn
                FROM master
            ) WHERE rn = 1
        ), joined AS (
            SELECT c.*, mu.*, mn.*
            FROM coded c
            LEFT JOIN mu ON c.upc = mu.u_key
            LEFT JOIN mn ON trim(c.product_name) = mn.n_key
        ), picked AS (
            SELECT article_id, product_name, quantity, is_tax, price, upc,
                   CASE WHEN u_key IS NOT NULL THEN 'upc'
                        WHEN n_key IS NOT NULL THEN 'similarity'
                        ELSE 'generated' END AS match_type,
                   {picks}
            FROM joined
        ), filled AS (
            SELECT * REPLACE (
                coalesce(description, product_name) AS description,
                coalesce(brand, 'Generic') AS brand,
                coalesce(category, 'Others') AS category),
                'miscellaneous items' AS subcategory
            FROM picked
        )
        SELECT article_id, match_type, master_product_id, upc, price,
               CASE WHEN quantity <= 0 THEN 10 ELSE quantity END AS quantity,
               CASE WHEN coalesce(is_tax, false)
                    THEN '11111111-1111-1111-1111-111111111111'
                    ELSE '00000000-0000-0000-0000-000000000000' END AS tax_slab,
               description, brand, category, subcategory,
               {_hash_embedding_sql(content, GROCERY_EMBED_DIM)} AS embedding
        FROM filled
        """
    )
    con.execute(
        """
        CREATE OR REPLACE TEMP VIEW exp_updates AS
        SELECT s.article_id, s.price AS new_price, e.price AS old_price,
               (s.price IS NOT NULL AND e.price IS NOT NULL AND s.price <> e.price)
                   AS price_changed,
               (coalesce(e.tax_percentage > 0, false) <> coalesce(s.is_tax, false))
                   AS tax_changed
        FROM staged s JOIN existing e USING (article_id)
        WHERE (s.price IS NOT NULL AND e.price IS NOT NULL AND s.price <> e.price)
           OR (coalesce(e.tax_percentage > 0, false) <> coalesce(s.is_tax, false))
        """
    )
    con.execute(
        "CREATE OR REPLACE TEMP VIEW exp_match_stats AS "
        "SELECT match_type, count(*) AS n FROM exp_products GROUP BY match_type"
    )


GROCERY_PRODUCT_COLS = [
    "match_type", "master_product_id", "upc", "price", "quantity", "tax_slab",
    "description", "brand", "category", "subcategory", "embedding",
]


def check_grocery(d: str, products_dir: str, updates: pd.DataFrame,
                  match_stats: pd.DataFrame) -> tuple[int, int]:
    """Score one grocery pass: products as written, updates and match_stats
    as collected."""
    with duckdb.connect() as con:
        grocery_views(con, d)
        con.execute(
            f"""
            CREATE TEMP VIEW act_products AS
            SELECT article_id, match_type, master_product_id, upc, price,
                   quantity::DOUBLE AS quantity, tax_slab, description,
                   brand.name AS brand, category.name AS category,
                   subcategory.name AS subcategory, embedding
            FROM read_parquet('{products_dir}/*.parquet')
            """
        )
        n1, f1 = score_rows(con, "exp_products", "act_products", "article_id",
                            GROCERY_PRODUCT_COLS)
        con.register("act_updates_df", updates)
        n2, f2 = score_rows(con, "exp_updates", "act_updates_df", "article_id",
                            ["new_price", "old_price", "price_changed", "tax_changed"])
        con.register("act_stats_df", match_stats)
        n3, f3 = score_rows(con, "exp_match_stats", "act_stats_df", "match_type", ["n"])
    return n1 + n2 + n3, f1 + f2 + f3


# --------------------------------------------------------------------------
# menu_match
# --------------------------------------------------------------------------

def menu_expected(d: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(expected matches, expected enriched rows) for the menus in ``d``.

    Matches: numpy brute-force cosine top-1 over the corpus, scores rounded
    to 6 places, ties to the lowest corpus id, kept at ``MENU_MIN_SCORE``
    and above. Every other item is enriched: the stand-in's generated row,
    or the framework's fallback row for items that fail on every call."""
    import pyarrow.parquet as pq

    from restaurant_etl_code_spark.enrichment.backends import content_fallback_row

    corpus = pq.read_table(os.path.join(d, "corpus.parquet")).to_pandas()
    items = pq.read_table(os.path.join(d, "items_truth.parquet")).to_pandas()
    C = np.stack(corpus["embedding"].to_numpy())
    C = C / np.linalg.norm(C, axis=1, keepdims=True)
    Q = np.array([gen.hash_embedding(n, gen.MENU_DIM) for n in items["name"]])
    Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    S = np.round(Q @ C.T, 6)
    best = S.max(axis=1)
    ids = corpus["vec_id"].to_numpy()
    nb = np.array([ids[np.flatnonzero(S[i] == best[i])].min() for i in range(len(items))])
    hit = best >= MENU_MIN_SCORE
    matches = pd.DataFrame(
        {"item_id": items["item_id"][hit].to_numpy(), "neighbor_id": nb[hit], "score": best[hit]}
    )
    rows = []
    for item_id, name in zip(items["item_id"][~hit], items["name"][~hit]):
        kind = standin.schedule(int(item_id), gen.MENU_FAIL_ONCE_SHARE, gen.MENU_FAIL_ALWAYS_SHARE)
        if kind == "always":
            row = content_fallback_row({"product_name": name})
        else:
            row = standin.generated_row(name)
        rows.append({"item_id": int(item_id), **row, "failed_over": kind == "always"})
    return matches, pd.DataFrame(rows)


ENRICH_COLS = ["gen_name", "gen_description", "gen_brand", "gen_category",
               "gen_subcategory", "failed_over"]


def check_menu(d: str, matches: pd.DataFrame, enriched: pd.DataFrame) -> tuple[int, int]:
    """Score one menu pass: every item is either matched or enriched."""
    exp_m, exp_e = menu_expected(d)
    act_m = matches[["item_id", "neighbor_id", "score"]].copy()
    act_m["score"] = act_m["score"].round(6)
    exp_m = exp_m.assign(score=exp_m["score"].round(6))
    act_e = enriched.copy()
    act_e["failed_over"] = act_e["enrich_error"].notna()
    with duckdb.connect() as con:
        for name, df in (("exp_m", exp_m), ("act_m", act_m), ("exp_e", exp_e),
                         ("act_e", act_e[["item_id"] + ENRICH_COLS])):
            con.register(name, df)
        n1, f1 = score_rows(con, "exp_m", "act_m", "item_id", ["neighbor_id", "score"])
        n2, f2 = score_rows(con, "exp_e", "act_e", "item_id", ENRICH_COLS)
    return n1 + n2, f1 + f2


# --------------------------------------------------------------------------
# catalog_delta
# --------------------------------------------------------------------------

DELTA_COLS = ["name", "price", "qty", "updated_seq"]


def check_delta(d: str, target_dir: str) -> tuple[int, int, int]:
    """Score the drained target: one row per key, the last delta row for
    each key winning (files in arrival order, rows in file order).
    Returns (expected rows, failed rows, duplicate-key rows)."""
    landing = os.path.join(d, "landing")
    with duckdb.connect() as con:
        con.execute(
            f"""
            CREATE TEMP VIEW exp_target AS
            SELECT * EXCLUDE (f, pos, rn) FROM (
                SELECT *, row_number() OVER (PARTITION BY product_id ORDER BY f DESC, pos DESC) AS rn
                FROM (
                    SELECT *, 0 AS f, 0 AS pos
                    FROM read_parquet('{os.path.join(d, 'target.parquet')}')
                    UNION ALL
                    SELECT * EXCLUDE (filename, file_row_number),
                           1 + regexp_extract(filename, 'delta_([0-9]+)', 1)::INT AS f,
                           file_row_number AS pos
                    FROM read_parquet('{landing}/*.parquet', filename = true,
                                      file_row_number = true)
                )
            ) WHERE rn = 1
            """
        )
        con.execute(
            f"CREATE TEMP VIEW act_target AS SELECT product_id, {', '.join(DELTA_COLS)} "
            f"FROM read_parquet('{target_dir}/*/*.parquet')"
        )
        n, failed = score_rows(con, "exp_target", "act_target", "product_id", DELTA_COLS)
        dup = con.execute(
            "SELECT count(*) - count(DISTINCT product_id) FROM act_target"
        ).fetchone()[0]
    return n, failed, int(dup)
