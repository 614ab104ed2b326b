#!/usr/bin/env python3
"""Synthesize a SKEWED documents table from an sf directory (bench-only).

The sf1.0 fixture perturbs text per replica, so its LSH buckets are
mostly small and the exact-dedup prepass finds little to collapse. They are
not all under the cap, though: SkewBench's guarded `minhashCandidates` leg
(k = 3, 4 hashes, 2 bands, cap 64) logs 5 dropped buckets on the uniform
sf1.0 corpus too, so the skew ratio's baseline already pays a few capped
buckets. Neither guard meets duplicate mass at scale there. This tool
plants the pathology the guards exist for (round-12 verdict item 6):

  - 6% of docs become ONE byte-identical template (exact-dup mass — the
    exactPrepass target: without it, every LSH bucket the template lands
    in is quadratic in 0.06*|corpus|);
  - a further 4% become the same template plus a per-doc noise suffix
    (NEAR-dup mass — survives exact dedup, lands in one LSH bucket; the
    maxBucketSize cap's target);
  - the remaining 90% keep their original text.

Only documents.parquet is rewritten; other tables pass through untouched
so the output directory stays a drop-in SPARK_GRAFT_SF_DIR.

Usage: python3 tools/make_skew.py /tmp/sf1.0 /tmp/sf1.0skew
"""
import shutil
import sys

import duckdb

TEMPLATE = ("breaking news update please subscribe to our channel and hit the "
            "notification bell for more daily content about this developing story "
            "we will keep you informed as events unfold stay tuned for more")

TABLES = "region nation customer supplier part orders lineitem events embeddings".split()


def main(src: str, dst: str) -> None:
    import os
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"""
        COPY (
          SELECT doc_id,
                 CASE
                   WHEN doc_id % 100 < 6 THEN '{TEMPLATE}'
                   WHEN doc_id % 100 < 10 THEN '{TEMPLATE}' || ' noise' || doc_id
                   ELSE text
                 END AS text,
                 lang, source,
                 CASE
                   WHEN doc_id % 100 < 6 THEN {len(TEMPLATE)}
                   WHEN doc_id % 100 < 10 THEN {len(TEMPLATE)} + 7 + len(CAST(doc_id AS VARCHAR))
                   ELSE n_chars
                 END AS n_chars
          FROM read_parquet('{src}/documents.parquet')
        ) TO '{dst}/documents.parquet' (FORMAT PARQUET)""")
    n, = con.execute(
        f"SELECT count(*) FROM read_parquet('{dst}/documents.parquet')").fetchone()
    print(f"documents: {n} rows (6% exact-template, 4% near-template)")
    for t in TABLES:
        shutil.copy(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")
    print(f"skewed dataset written to {dst}")


if __name__ == "__main__":
    a = sys.argv[1:]
    main(a[0] if a else "/tmp/sf1.0", a[1] if len(a) > 1 else "/tmp/sf1.0skew")
