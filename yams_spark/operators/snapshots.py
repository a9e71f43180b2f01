"""Tree snapshots with Merkle roots — the last missing reference surface.

The reference stores directory snapshots with a Merkle tree root
(``reference src/metadata/migration.cpp:1194-1246`` tree_snapshots schema)
computed by git-style tree nodes: entries sorted by name, serialized as
``"<mode> <name>" + separator + <hash>`` and SHA-256'd bottom-up
(``src/metadata/tree_builder.cpp:22-110``). This recast keeps those
semantics — sorted (mode, name, hash) entries per directory, sha256 per
node, children's node hashes feeding their parent — with a text-canonical
serialization (hex hash, tab/newline separators instead of NUL/raw bytes)
so every node hash is reproducible in DuckDB SQL for the oracle.

Scale shape: one groupBy(parent) aggregation per tree LEVEL (depth
iterations, not node iterations) — a petabyte corpus with a 6-deep path
layout is 6 keyed aggregations, each with map-side combine on the parent
directory; per-directory entry lists are bounded by fan-out, never by
corpus size. No driver materialization; the root row is the only scalar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FILE_MODE = "100644"  # tree_builder.cpp:80 ("100644 file.txt")
DIR_MODE = "40000"    # git tree directory mode


def _parent_expr(col):
    return F.regexp_replace(col, "/[^/]*$", "")


def _depth_expr(col):
    return (F.length(col) - F.length(F.regexp_replace(col, "/", ""))).cast("int")


def merkle_tree(
    files: DataFrame,
) -> DataFrame:
    """(path, node_hash, n_entries) for every directory node, bottom-up.

    ``files`` must have unique absolute paths (``/a/b/c.txt``) and a
    per-file content hash. Each directory's hash is
    sha256 over its name-sorted entry lines ``"<mode> <name>\\t<hash>"``
    joined by newlines (tree_builder.cpp:48-110 semantics, text-canonical).
    The root directory has path ``""``.
    """
    entries = files.select(
        _parent_expr(F.col("path")).alias("parent"),
        F.substring_index(F.col("path"), "/", -1).alias("name"),
        F.col("file_hash").alias("h"),
        F.lit(FILE_MODE).alias("mode"),
    ).withColumn("__pd", _depth_expr(F.col("parent")))

    max_row = entries.agg(F.max("__pd").alias("m")).collect()[0]
    if max_row["m"] is None:
        return files.sparkSession.createDataFrame(
            [], "path string, node_hash string, n_entries long"
        )
    out: DataFrame | None = None
    cur = entries
    for d in range(int(max_row["m"]), -1, -1):
        lvl = cur.where(F.col("__pd") == d)
        entry_line = F.concat(
            F.col("mode"), F.lit(" "), F.col("name"), F.lit("\t"), F.col("h")
        )
        dirs_d = (
            lvl.withColumn("__e", entry_line)
            .groupBy("parent")
            .agg(
                F.sha2(
                    F.encode(
                        F.array_join(
                            F.expr(
                                "transform(array_sort(collect_list(struct(name, __e))), "
                                "x -> x.__e)"
                            ),
                            "\n",
                        ),
                        "UTF-8",
                    ),
                    256,
                ).alias("node_hash"),
                F.count("*").alias("n_entries"),
            )
            .select(
                F.col("parent").alias("path"), "node_hash", "n_entries"
            )
            .localCheckpoint(eager=False)
        )
        out = dirs_d if out is None else out.unionByName(dirs_d)
        if d > 0:
            new_entries = dirs_d.select(
                _parent_expr(F.col("path")).alias("parent"),
                F.substring_index(F.col("path"), "/", -1).alias("name"),
                F.col("node_hash").alias("h"),
                F.lit(DIR_MODE).alias("mode"),
            ).withColumn("__pd", F.lit(d - 1))
            cur = cur.where(F.col("__pd") != d).unionByName(new_entries)
    return out


def tree_snapshot(
    files: DataFrame,
    snapshot_id: str,
    directory_path: str = "/",
    snapshot_label: str | None = None,
) -> DataFrame:
    """One tree_snapshots row (migration.cpp:1201-1213): snapshot_id,
    directory_path, tree_root_hash (the Merkle root — the path='' node),
    snapshot_label, files_count."""
    tree = merkle_tree(files)
    root = tree.where(F.col("path") == "").select(
        F.lit(snapshot_id).alias("snapshot_id"),
        F.lit(directory_path).alias("directory_path"),
        F.col("node_hash").alias("tree_root_hash"),
        F.lit(snapshot_label).cast("string").alias("snapshot_label"),
    )
    counts = files.agg(F.count("*").alias("files_count"))
    return root.crossJoin(counts)


def tree_diff_summary(
    base: DataFrame,
    target: DataFrame,
    path_col: str = "path",
    hash_col: str = "file_hash",
) -> DataFrame:
    """One tree_diffs row (migration.cpp:1259-1273): files_added /
    files_deleted / files_modified / files_renamed between two snapshots'
    file listings. Rename = a deleted path and an added path sharing a
    content hash (tree_differ.cpp:204-243); each renamed pair is removed
    from the added/deleted counts like the reference's rename detection."""
    b = base.select(F.col(path_col).alias("p"), F.col(hash_col).alias("h"))
    t = target.select(F.col(path_col).alias("p"), F.col(hash_col).alias("h"))
    j = b.alias("b").join(t.alias("t"), "p", "full_outer").select(
        "p", F.col("b.h").alias("bh"), F.col("t.h").alias("th")
    )
    status = (
        F.when(F.col("bh").isNull(), F.lit("added"))
        .when(F.col("th").isNull(), F.lit("deleted"))
        .when(F.col("bh") != F.col("th"), F.lit("modified"))
        .otherwise(F.lit("unchanged"))
    )
    s = j.withColumn("status", status)
    # maximal pairing: per content hash, min(deleted paths, added paths)
    # can be paired as renames
    dels = (
        s.where(F.col("status") == "deleted")
        .groupBy(F.col("bh").alias("h"))
        .agg(F.count("*").alias("nd"))
    )
    adds = (
        s.where(F.col("status") == "added")
        .groupBy(F.col("th").alias("h"))
        .agg(F.count("*").alias("na"))
    )
    renames = dels.join(adds, "h").groupBy().agg(
        F.coalesce(F.sum(F.least("nd", "na")), F.lit(0)).alias("files_renamed")
    )
    counts = s.groupBy().agg(
        F.sum(F.when(F.col("status") == "added", 1).otherwise(0)).alias("raw_added"),
        F.sum(F.when(F.col("status") == "deleted", 1).otherwise(0)).alias("raw_deleted"),
        F.sum(F.when(F.col("status") == "modified", 1).otherwise(0)).alias("files_modified"),
        F.sum(F.when(F.col("status") == "unchanged", 1).otherwise(0)).alias("files_unchanged"),
    )
    return counts.crossJoin(renames).select(
        (F.col("raw_added") - F.col("files_renamed")).alias("files_added"),
        (F.col("raw_deleted") - F.col("files_renamed")).alias("files_deleted"),
        "files_modified",
        "files_renamed",
        "files_unchanged",
    )
