package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The lifecycle of every materialized state graft keeps between batches:
  * the dedup ingest indexes, the IVF index and the aggregate state. A state
  * is a set of named parts under one path; each part is a
  * [[ParquetSink.writeSharded]] table `path/name`, hash-sharded on its
  * key. A family supplies its parts and [[rows]], the rows a batch of
  * documents contributes to each part; the lifecycle is the same for all:
  *
  *   - [[write]] builds the base from a corpus (overwrites each part and
  *     drops any tombstones);
  *   - [[append]] adds a batch as delta shards — base files are never
  *     rewritten, so a batch costs O(|batch|) writes and a scan of a part
  *     sees base ∪ deltas;
  *   - [[compact]] folds each part back to `shards` files through the
  *     part's `fold` (crash-recoverable, [[ParquetSink.compactShardedWith]],
  *     whose directory swap is local-filesystem only);
  *   - [[read]] loads every part as a plain parquet scan, and fails naming
  *     any part that is missing (a crash inside a directory swap leaves
  *     one missing; reading the rest would pair parts from two states).
  *
  * Deletions are tombstones: with `tombstones` set, `path/tomb` holds
  * values of the named column, and a row of the named part carrying one is
  * dead. [[read]] anti-joins them away; [[compact]] applies them into the
  * part and drops `tomb/`, so a compacted index reads with no anti join.
  */
abstract class ShardedIndex(parts: Seq[ShardedIndex.Part],
                            tombstones: Option[ShardedIndex.Tombstones]) {
  import ShardedIndex._

  /** The rows `docs` contribute to each part, by part name: the index of
    * `docs` alone, the in-memory form a probe accepts like a [[read]]. */
  def rows(docs: DataFrame): Map[String, DataFrame]

  def write(docs: DataFrame, path: String, shards: Int): Unit = {
    // a new base has no tombstones: drop any an earlier lifecycle left
    drop(docs.sparkSession, s"$path/$Tomb")
    put(rows(docs), path, shards, ParquetSink.writeSharded)
  }

  def append(docs: DataFrame, path: String, shards: Int): Unit =
    put(rows(docs), path, shards, ParquetSink.appendSharded)

  def read(spark: SparkSession, path: String): Map[String, DataFrame] = {
    val missing = parts.filterNot(p => exists(spark, s"$path/${p.name}")).map(_.name)
    require(missing.isEmpty, s"index at $path has no part ${missing.mkString("/, ")}/")
    val loaded = parts.map(p => p.name -> spark.read.parquet(s"$path/${p.name}")).toMap
    tombstones.filter(_ => exists(spark, s"$path/$Tomb")).fold(loaded) { t =>
      loaded.updated(t.part, live(loaded(t.part), spark.read.parquet(s"$path/$Tomb"), t))
    }
  }

  def compact(spark: SparkSession, path: String, shards: Int): Unit = {
    val tomb = tombstones.filter(_ => exists(spark, s"$path/$Tomb"))
      .map(t => t -> spark.read.parquet(s"$path/$Tomb"))
    parts.foreach { p =>
      val settle = tomb.collect {
        case (t, dead) if t.part == p.name => (df: DataFrame) => live(df, dead, t)
      }.getOrElse(identity[DataFrame] _)
      ParquetSink.compactShardedWith(spark, s"$path/${p.name}", p.key, shards)(
        settle.andThen(p.fold))
    }
    drop(spark, s"$path/$Tomb")
  }

  /** Writes the tombstones `rows` holds, then each part it names in declared
    * order. A write re-caches every cached plan that read the written path,
    * so a family whose delta reads one of its own parts declares that part
    * after the parts the delta feeds.
    */
  protected def put(rows: Map[String, DataFrame], path: String, shards: Int,
                    sink: (DataFrame, String, String, Int) => Unit): Unit = {
    for (t <- tombstones; dead <- rows.get(Tomb)) sink(dead, s"$path/$Tomb", t.column, shards)
    parts.foreach(p => rows.get(p.name).foreach(sink(_, s"$path/${p.name}", p.key, shards)))
  }

  /** `df`'s rows that no tombstone in `dead` kills, in `df`'s column order. */
  private def live(df: DataFrame, dead: DataFrame, t: Tombstones): DataFrame =
    df.join(dead, df(t.column) === dead(t.column), "left_anti")

  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    fileSystem(spark, p).exists(p)
  }

  private def drop(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    fileSystem(spark, p).delete(p, true); ()
  }
}

object ShardedIndex {

  /** The tombstone table's name under the index path. */
  val Tomb = "tomb"

  /** One table of an index: `name/` under the index path, hash-sharded on
    * `key`. `fold` is the row rewrite [[ShardedIndex.compact]] applies
    * (deduplicate, merge deltas); it must leave what readers see unchanged.
    */
  final case class Part(name: String, key: String, fold: DataFrame => DataFrame)

  /** `tomb/` rows are values of `column`; a row of `part` carrying one is dead. */
  final case class Tombstones(part: String, column: String)
}
