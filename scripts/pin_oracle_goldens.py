"""Pin the non-SQL-expressible queries' outputs as literal VALUES oracles.

VERDICT r6 ask #1: the driver can only hash-check queries carrying an
``oracle_sql()`` entry, and these pixel/LSH/ANN paths are fully
deterministic (doc_id-seeded synthesis, pinned hashes, no RNG anywhere) —
so their outputs at the two correctness scales ARE the oracle. This script
runs each query at sf0.001 (the pytest replica scale) and sf0.01 (the
driver scale) and rewrites
``deepseek_ocr_api_rs_spark/fixtures/oracle_goldens.json.gz`` with the rows,
keyed by the scale discriminator ``sum(length(text))`` over ``documents``
(the two corpora share doc_ids 0-499 but differ in text, so a content
scalar — not a row count — tells the scales apart).

Regenerate ONLY when an operator's pinned behavior intentionally changes:

    python scripts/pin_oracle_goldens.py

``fixtures/oracle_goldens.py`` loads the file for
``__spark_entry__.oracle_sql()``; exactness is then enforced bitwise by
tests/test_queries_oracle.py and tests/test_pinned_goldens.py.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# the formerly rows-only queries (VERDICT r6 ask #1; +MP4 pixel path r7)
# and the ORDER BY
# each one's Spark side ends with (the oracle mirrors it)
PINNED: dict[str, str] = {
    "q_png_resize": "doc_id",
    "q_jpeg_progressive_resize": "doc_id",
    "q_video_frame_sample": "doc_id, frame_idx",
    "q_video_mp4_frames": "doc_id, frame_idx",  # r7: MP4 JPEG-sample pixel path
    "q_gif_anim_frames": "doc_id, frame_idx",  # r7: animated-GIF compositor
    "q_pdf_images": "doc_id, page, name",  # r7: PDF image-XObject inventory
    "q_favicon": "doc_id, idx",  # r7: ICO favicon inventory
    "q_grounding_boxes": "doc_id",
    "q_extract_html_pipeline": "url",
    "q_minhash_lsh_fast": "id_a, id_b",
    "q_simhash_fast": "doc_id",
    "q_neardup_lsh": "id_a, id_b",
    "q_ann_ivf": "cosine DESC, vec_id",
    "q_ann_pq": "cosine DESC, vec_id",
    "q_semdedup": "vec_id",  # r8: trained k-means centroids → not SQL
}

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

_SQL_TYPE = {  # Spark simpleString -> DuckDB cast target
    "bigint": "BIGINT",
    "int": "INTEGER",
    "smallint": "SMALLINT",
    "double": "DOUBLE",
    "float": "DOUBLE",
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
}


def _py(v):
    """numpy scalar -> plain Python (repr-stable in the JSON data file)."""
    if hasattr(v, "item"):
        return v.item()
    return v


def main() -> None:
    import duckdb

    from deepseek_ocr_api_rs_spark.conf import build_session
    from deepseek_ocr_api_rs_spark.fixtures import oracle_goldens

    import __spark_entry__ as entrymod

    spark = build_session(master="local[16]", shuffle_partitions=16)
    queries = entrymod.queries()

    cols: dict[str, list[tuple[str, str]]] = {}
    rows: dict[str, dict[int, list[tuple]]] = {n: {} for n in PINNED}
    discs: list[int] = []
    for sf_dir in SF_DIRS:
        con = duckdb.connect()
        (disc,) = con.execute(
            f"select sum(length(text)) from '{sf_dir}/documents.parquet'"
        ).fetchone()
        disc = int(disc)
        discs.append(disc)
        print(f"== {sf_dir}  discriminator={disc}")
        for name in PINNED:
            df = queries[name](spark, sf_dir)
            schema = [
                (f.name, _SQL_TYPE[f.dataType.simpleString()])
                for f in df.schema.fields
            ]
            if name in cols:
                assert cols[name] == schema, (name, cols[name], schema)
            else:
                cols[name] = schema
            pdf = df.toPandas()
            rows[name][disc] = [
                tuple(_py(v) for v in rec) for rec in pdf.itertuples(index=False)
            ]
            print(f"   {name}: {len(pdf)} rows")
    assert len(set(discs)) == len(discs), f"scales not distinguishable: {discs}"

    oracle_goldens.save(cols, PINNED, rows)
    size = os.path.getsize(oracle_goldens.PATH)
    print(f"wrote {oracle_goldens.PATH} ({size} bytes)")

if __name__ == "__main__":
    main()
