"""The small-graph driver lane shared by graph.py (hits, salsa,
reachability, k_core, core_number) and dedup.connected_components:
ONE bounded probe, ``limit(cap + 1)`` with the caller's edge cap, then
numpy on the driver and a local relation back. Over the cap the
caller runs its distributed loop; no more than ``cap + 1`` rows ever
reach the driver."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (DataType, DoubleType, LongType, StructField,
                               StructType)


class _DriverGraph:
    """An edge list small enough for the driver lane, indexed for
    numpy: ``nodes`` holds the distinct endpoint values as an Arrow
    array in first-seen order (output frames take their node column
    from it, so ids keep their Spark type), ``a``/``b`` each edge's
    endpoint positions in ``nodes``, and ``w`` the probed edge weights
    (None when the probe took none). Edges keep the probe's
    multiplicity. Endpoints must not be NULL."""

    def __init__(self, spark, table: pa.Table, node_type: DataType):
        m = table.num_rows
        enc = pa.concat_arrays([table.column(0).combine_chunks(),
                                table.column(1).combine_chunks()]
                               ).dictionary_encode()
        idx = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        self.spark, self.node_type = spark, node_type
        self.nodes, self.a, self.b = enc.dictionary, idx[:m], idx[m:]
        self.n = len(self.nodes)
        self.w = (table.column(2).to_numpy() if table.num_columns > 2
                  else None)

    def distinct(self, symmetric: bool = False
                 ) -> tuple[np.ndarray, np.ndarray]:
        """The DISTINCT edge pairs, sorted by ``(a, b)``; with
        ``symmetric`` each edge also counts reversed (the
        ``graph._undirected`` rule)."""
        n = self.n
        key = self.a * n + self.b
        if symmetric:
            key = np.concatenate([key, self.b * n + self.a])
        key = np.unique(key)
        return key // n, key % n

    def frame(self, keep: np.ndarray | None = None,
              **cols: np.ndarray) -> DataFrame:
        """``(node, *cols)`` for the nodes where ``keep`` holds (every
        node when None) as a local relation; integer columns become
        long, float columns double."""
        nodes = self.nodes if keep is None else self.nodes.filter(
            pa.array(keep))
        arrays = [nodes] + [pa.array(v if keep is None else v[keep])
                            for v in cols.values()]
        schema = StructType(
            [StructField("node", self.node_type)]
            + [StructField(k, LongType() if v.dtype.kind in "iu"
                           else DoubleType())
               for k, v in cols.items()])
        return self.spark.createDataFrame(
            pa.Table.from_arrays(arrays, names=schema.names), schema)


def _driver_graph(edges: DataFrame, a: str, b: str, cap: int,
                  weight: Column | None = None) -> _DriverGraph | None:
    """The lane choice: ONE bounded probe collects ``edges[a, b]``
    (endpoints cast to their common node type, the type a union of
    the two columns takes), plus ``weight`` when given, through
    ``limit(cap + 1)``. Returns the indexed graph when it has at most
    ``cap`` edges, None when the distributed lane must run. ``edges``
    arrives with the operator's own edge filter applied and no NULL
    endpoint."""
    node_type = (edges.select(F.col(a).alias("node"))
                 .union(edges.select(F.col(b).alias("node")))
                 .schema["node"].dataType)
    cols = [F.col(a).cast(node_type), F.col(b).cast(node_type)]
    t = (edges.select(*cols, *([] if weight is None else [weight]))
         .limit(cap + 1).toArrow())
    if t.num_rows > cap:
        return None
    return _DriverGraph(edges.sparkSession, t, node_type)
