"""Seeded `embeddings` table for the query_mix workload.

Same columns, size and value shape as the engine's sf0.01 test table: 500
unit-norm 64-d float vectors spread around ten label centroids. The table is
a directory holding one parquet file, as the query suite reads it.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VECTORS = 500
TABLES = ('embeddings',)


def write(data_dir, seed):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, VECTORS)
    vecs = 0.14 * centers[labels] + rng.standard_normal((VECTORS, 64)) / 8
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    table = pa.table({
        'vec_id': pa.array(range(VECTORS), pa.int64()),
        'embedding': pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        'label': pa.array(labels, pa.int32()),
    })
    os.makedirs(os.path.join(data_dir, 'embeddings.parquet'))
    pq.write_table(table, os.path.join(data_dir, 'embeddings.parquet',
                                       'part-00000.parquet'))
