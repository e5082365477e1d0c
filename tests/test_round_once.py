"""Registry values are rounded once, at the exact values where rounding
twice disagreed with the DuckDB oracle: q1's decimal averages
(270.52 / 5405 = 0.05004995 -> 0.0500) and ann_ivf_topk's cosine
(0.84374964 -> 0.8437)."""

from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from weaver_spark.queries import ann_ivf_topk, q1_pricing_summary


def test_q1_averages_round_once(spark, tmp_path):
    # 5404 x 0.05 + 0.32 = 270.52 over 5405 rows
    vals = [0.05] * 5404 + [0.32]
    n = len(vals)
    pq.write_table(
        pa.table(
            {
                "l_quantity": vals,
                "l_extendedprice": [1.0] * n,
                "l_discount": vals,
                "l_tax": [0.0] * n,
                "l_returnflag": ["A"] * n,
                "l_linestatus": ["F"] * n,
                "l_shipdate": pa.array(
                    [datetime(1995, 1, 1)] * n, pa.timestamp("us")
                ),
            }
        ),
        tmp_path / "lineitem.parquet",
    )
    (row,) = q1_pricing_summary(spark, str(tmp_path)).collect()
    assert row["count_order"] == 5405
    assert row["avg_disc"] == 0.05 and row["avg_qty"] == 0.05


def test_ann_ivf_cosine_rounds_once(spark, tmp_path):
    dim = 64
    a = np.float32(0.84374964)
    b = np.float32(np.sqrt(1 - np.float64(a) ** 2))
    rows = []
    for cell in range(8):  # codebook: vec_id < 8, orthogonal to the query
        v = np.zeros(dim, np.float32)
        v[2 + cell] = 1
        rows.append((cell, v))
    q = np.zeros(dim, np.float32)
    q[0] = 1
    rows.append((100, q))
    nb = np.zeros(dim, np.float32)
    nb[0], nb[1] = a, b  # cosine with the query: 0.84374963
    rows.append((200, nb))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [r[1].tolist() for r in rows], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(rows), pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    got = {
        r["neighbor_id"]: r["cosine"]
        for r in ann_ivf_topk(spark, str(tmp_path)).collect()
        if r["query_id"] == 100
    }
    assert got[200] == 0.8437
