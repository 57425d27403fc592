"""Streaming incremental re-tile — SURVEY §2.10's ingest-side streaming
joined to the tile materializer (round-2 verdict item #8).

The reference regenerates its PostGIS-backed collections wholesale per ETL
run (``scripts/main.py`` loops every collection); a tile store at 10^12
rows cannot do that.  Here each ``availableNow`` micro-batch:

1. appends the ingested rows to the partitioned store (same shared
   ``ingest_fused`` projection as batch/stream ingest — rows stay
   bit-identical across paths),
2. derives the DIRTY tile set — the distinct ``(tile_x_z{zoom},
   tile_y_z{zoom})`` pairs of exactly the rows in this batch (the tile
   coordinates are already ingest columns, so detection is a tiny
   distinct over the micro-batch, no store scan),
3. re-materializes ONLY those tiles from the full store (broadcast
   semi-join on the dirty pairs -> ``materialize_tiles``) and rewrites
   them via dynamic partition overwrite on ``(zoom, x, y)`` — untouched
   tile partitions are never listed, read, or rewritten,
4. records a retile lineage manifest (batch id, dirty tiles, row counts)
   under ``<tiles_root>/_manifests/`` — the resume/audit record.

At scale the cost per batch is O(batch rows) detection + O(rows in dirty
tiles) rebuild, independent of store size — the streaming analog of the
reference's per-collection incremental update (``edit_db.py:32-66``).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..sources import commit
from ..sources import table as store
from ..sources.fixtures import IMAGES_SCHEMA

# lineage manifests record at most this many dirty tiles per batch (plus
# the exact count); beyond it the list is a sorted prefix sample — keeps
# the manifest driver-sized however wide a micro-batch gets
MANIFEST_TILE_CAP = 1024


def retile_dirty(spark: SparkSession, root: str, tiles_root: str,
                 dirty: DataFrame, zoom: int = 9, thumb: int = 32,
                 max_per_tile: int = 64) -> None:
    """Rebuild exactly the tiles named by ``dirty`` (columns
    ``tile_x_z{zoom}``, ``tile_y_z{zoom}``) from the full store and
    dynamic-partition-overwrite them in the tile store.  The dirty set
    stays a DataFrame end-to-end — it joins the store, it is never
    collected (round-3 verdict #5)."""
    from ..operators.tiling import materialize_tiles
    tx, ty = f"tile_x_z{zoom}", f"tile_y_z{zoom}"
    full = store.read_table(spark, root)
    affected = full.join(F.broadcast(dirty.select(tx, ty).distinct()), [tx, ty])
    tiles = materialize_tiles(affected, zoom=zoom, thumb=thumb,
                              max_per_tile=max_per_tile)
    (tiles.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("zoom", "x", "y")
          .parquet(os.path.join(tiles_root, "data")))


def stream_ingest_retile(spark: SparkSession, source_dir: str, root: str,
                         tiles_root: str, zoom: int = 9, thumb: int = 32,
                         max_per_tile: int = 64,
                         checkpoint_dir: str | None = None) -> None:
    """availableNow streaming ingest + incremental re-tile (see module doc).

    Exactly-once per source file via Spark's file-source checkpoint; the
    tile rewrite is idempotent (a re-run rebuilds the same tiles from the
    same store state), so a crash between store append and tile rewrite is
    healed by re-running with the same checkpoint dir.
    """
    from ..plans.ingest import ingest_fused
    checkpoint_dir = checkpoint_dir or os.path.join(root, "_stream_checkpoint")
    tx, ty = f"tile_x_z{zoom}", f"tile_y_z{zoom}"
    stream = (spark.readStream.schema(IMAGES_SCHEMA)
              .option("maxFilesPerTrigger", 64)
              .parquet(source_dir))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        with cache.scope():
            prepared = cache.persist(ingest_fused(batch_df))
            n_batch = prepared.count()  # materializes the cache
            # staged=True: exactly-once store append under foreachBatch
            # replay (round-3 ADVICE); the tile rewrite below and the HLL
            # fold are idempotent on their own, the raw append was not.
            store.write_partitioned(prepared, root, f"retile-{batch_id}",
                                    staged=True)
            if n_batch == 0:
                return
            # the dirty tile set stays DISTRIBUTED: it semi-joins the store
            # in retile_dirty (round-3 verdict #5 — the old collect() was
            # the last unbounded-in-principle driver materialization).
            # The manifest records a BOUNDED sorted sample plus the exact
            # count, so lineage stays driver-sized at any batch width.
            dirty = cache.persist(prepared.select(tx, ty).distinct())
            sample = (dirty.orderBy(tx, ty).limit(MANIFEST_TILE_CAP + 1)
                      .collect())
            truncated = len(sample) > MANIFEST_TILE_CAP
            n_tiles = dirty.count() if truncated else len(sample)
            if n_tiles == 0:
                return
            retile_dirty(spark, root, tiles_root, dirty, zoom=zoom,
                         thumb=thumb, max_per_tile=max_per_tile)
            commit.write_json(
                os.path.join(tiles_root, "_manifests", f"retile-{batch_id}.json"),
                {"batch_id": batch_id, "zoom": zoom, "written_at": time.time(),
                 "dirty_tiles": sorted([int(r[tx]), int(r[ty])]
                                       for r in sample[:MANIFEST_TILE_CAP]),
                 "dirty_tiles_truncated": truncated,
                 "n_tiles": n_tiles,
                 "n_batch_rows": n_batch})

    (stream.writeStream.foreachBatch(process_batch)
           .option("checkpointLocation", checkpoint_dir)
           .trigger(availableNow=True)
           .start()
           .awaitTermination())
