#!/usr/bin/env python3
"""Generate testdata-sf1.0/ — a DETERMINISTIC 10x scale-up of the
driver's read-only sf0.1 tables, for the full-suite decade gate
(round 13: convert "argued linear" into "measured at 10x" for every
oracled query). The generated directory is git-ignored; this generator
is the committed artifact.

Construction: 10 replicas of each scaling table with all id columns
offset by r*10_000_000 per replica r (disjoint key ranges; offsets are
multiples of 10 so every doc_id-mod-10 planted structure — incremental
split, zipf copies — replicates per replica; FK columns offset together
so joins stay consistent).

Two deliberate choices that keep the scale-up NON-degenerate:

  - documents text: replica 0 keeps the original bytes; replicas r>=1
    prefix every token with "z<r>" — cross-replica documents then share
    NO shingle, so every df-driven text/dedup tier scales LINEARLY
    across replicas (each replica is an independent corpus with the
    original's internal dup structure) instead of the corpus-quadratic
    blowup that 10 verbatim mirrors of every doc would manufacture.
    The zipf fixtures are untouched by this: they re-synthesize from
    doc_id values, so at sf1.0 they form one 50k-doc corpus — exactly
    the third-decade regime of BASELINE.md "The prefix-filter
    crossover, measured".

  - embeddings are copied UNREPLICATED: offset copies of identical
    vectors would make every vector a 10-way exact dup (degenerate ANN
    corpus: quadratic near-dup output, distance ties everywhere), and
    unlike text there is no token-prefix trick that preserves intra-
    replica geometry while decorrelating replicas. The vector family's
    decade scaling is recorded in BASELINE.md "Relational/event/search
    decade tier" instead.

region/nation are fixed dimensions and copy as-is.
"""
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
DST = "/root/repo/testdata-sf1.0"
OFF = 10_000_000
REPLICAS = 10

COPY = ["region", "nation", "embeddings"]
SCALE = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
}


def replicate(name, id_cols):
    t = pq.read_table(f"{SRC}/{name}.parquet")
    t = t.replace_schema_metadata(None)
    parts = []
    for r in range(REPLICAS):
        p = t
        for c in id_cols:
            i = p.schema.get_field_index(c)
            p = p.set_column(i, c, pc.add(p.column(c), r * OFF))
        if name == "documents" and r > 0:
            texts = p.column("text").to_pylist()
            texts = [" ".join(f"z{r}{w}" for w in s.split()) for s in texts]
            ti = p.schema.get_field_index("text")
            p = p.set_column(ti, "text", pa.array(texts, pa.string()))
            ni = p.schema.get_field_index("n_chars")
            p = p.set_column(ni, "n_chars",
                             pa.array([len(s) for s in texts], pa.int64()))
        parts.append(p)
    out = pa.concat_tables(parts)
    pq.write_table(out, f"{DST}/{name}.parquet")
    print(f"{name}: {t.num_rows} -> {out.num_rows} rows")


def main():
    os.makedirs(DST, exist_ok=True)
    for name in COPY:
        t = pq.read_table(f"{SRC}/{name}.parquet").replace_schema_metadata(None)
        pq.write_table(t, f"{DST}/{name}.parquet")
        print(f"{name}: copied {t.num_rows} rows")
    for name, cols in SCALE.items():
        replicate(name, cols)


if __name__ == "__main__":
    main()
