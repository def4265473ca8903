package graft.sources

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The directory-table protocol every maintainer here shares: a table is
  * a plain directory of immutable `<kind>=<id>` parts (`batch=<id>`
  * partials, `opt=<K>` / `compact=<K>` bases, `gen=<k>` generations),
  * and a change becomes visible by a checked rename, the reference's
  * write-then-ack discipline (`convertor/convertor.go:156-171`).
  *
  *   - Visibility: the newest `<base>=K` covers every batch <= K, so a
  *     reader takes it plus the `batch=` parts after it. Crash leftovers
  *     (batches <= K, older bases) stay invisible, which is what makes
  *     re-running a compaction idempotent.
  *   - Publish: stage, move an existing target aside, rename the stage
  *     in, then drop the aside. At every instant one full copy exists.
  *   - Supersede: parts a newer base covers are deleted last; readers
  *     already ignore them, so the sweep only reclaims space.
  *
  * Hadoop `FileSystem.rename` and `delete` signal failure by RETURNING
  * FALSE (HDFS semantics; S3A's non-atomic directory rename is the
  * textbook producer), so every move here is checked and a failure
  * throws `IOException` naming the step, with every copy left in place
  * (ADVICE r9). Single-writer contract, as for any non-transactional
  * parquet directory: one maintainer owns one table. */
private[graft] object DirTable {

  /** One `<kind>=<id>` child directory of a table root. */
  final case class Part(kind: String, id: Long, path: Path) {
    def name: String = path.getName
  }

  private val PartName = """([A-Za-z_]+)=(-?\d+)""".r

  /** The id of a `<kind>=<id>` name. */
  def idOf(name: String): Long = name match {
    case PartName(_, id) => id.toLong
    case _ => throw new IllegalArgumentException(s"not a <kind>=<id> name: $name")
  }

  /** Hadoop `FileSystem` + `Path` for a location, resolved from the
    * session's Hadoop conf, so the protocol works on any Spark-writable
    * filesystem (local, HDFS, S3A), not just local disk (ADVICE r8). */
  def fs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** The `<kind>=<id>` child directories of `root`; Nil when it is
    * absent. Anything else (staging, asides, markers) is skipped. */
  def list(spark: SparkSession, root: String): Seq[Part] = {
    val (fs, p) = this.fs(spark, root)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
      st.getPath.getName match {
        case PartName(kind, id) => Some(Part(kind, id.toLong, st.getPath))
        case _ => None
      }
    }
  }

  /** Highest id among `root`'s parts of the given kinds, or -1. */
  def latest(spark: SparkSession, root: String, kinds: String*): Long =
    list(spark, root).filter(p => kinds.contains(p.kind))
      .map(_.id).maxOption.getOrElse(-1L)

  /** The parts covering exactly the batches in (`from`, `to`]: the
    * newest `<base>=K` plus the `batch=` parts in (max(from, K), to].
    * A base covers every batch <= K and batch ids are non-negative, so
    * it serves a window only when `from` is -1 (a reader with nothing
    * yet) and K <= `to`. Otherwise the window was compacted away:
    * throw rather than serve the wrong snapshot or delta (the contract
    * of a vacuumed lakehouse snapshot). The defaults read everything
    * visible now. */
  def visible(spark: SparkSession, root: String, base: String,
      from: Long = -1L, to: Long = Long.MaxValue): Seq[Part] = {
    val parts = list(spark, root)
    val newest = parts.filter(_.kind == base).maxByOption(_.id)
    val k = newest.fold(-1L)(_.id)
    if (k > from) {
      if (from != -1L) throw new IllegalArgumentException(
        s"table $root: the delta ($from, $to] was compacted away " +
          s"(newest $base=$k covers batches <= $k)")
      require(k <= to, s"table $root: snapshot asof=$to was compacted " +
        s"away (newest $base=$k covers batches <= $k)")
    }
    newest.filter(_.id > from).toSeq ++ parts.filter(p =>
      p.kind == "batch" && p.id > math.max(from, k) && p.id <= to)
  }

  /** `batch=` parts <= `h` and bases older than `h`: what `<base>=h`
    * supersedes. */
  def superseded(base: String, h: Long)(p: Part): Boolean =
    (p.kind == "batch" && p.id <= h) || (p.kind == base && p.id < h)

  /** The `batch=` partials of `root` with id < `k`, read with `schema`
    * (a batch whose rows were all filtered leaves a directory schema
    * inference would refuse); an empty frame when there are none. A
    * replay of batch k reads exactly what its first attempt read, so it
    * rewrites the same partial. */
  def partialsBefore(spark: SparkSession, root: String, k: Long,
      schema: StructType): DataFrame = {
    val parts = list(spark, root)
      .filter(p => p.kind == "batch" && p.id < k).map(_.path.toString)
    if (parts.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema)
    else spark.read.schema(schema).parquet(parts: _*)
  }

  /** Checked rename. */
  def rename(fs: FileSystem, from: Path, to: Path, step: String): Unit =
    if (!fs.rename(from, to)) throw new IOException(
      s"$step: FileSystem.rename($from -> $to) returned false; " +
        "every existing copy left in place")

  /** Checked recursive delete; an absent path is a no-op. */
  def delete(fs: FileSystem, p: Path, step: String): Unit =
    if (!fs.delete(p, true) && fs.exists(p)) throw new IOException(
      s"$step: FileSystem.delete($p) returned false")

  /** Publish `stage` at `target` without ever deleting the only copy:
    * clear a stale `aside`, move an existing target aside, rename the
    * stage in, then drop the aside. A crash between the two renames
    * leaves the old copy at `aside`, the one window a caller's recovery
    * must close. */
  def publish(fs: FileSystem, stage: Path, target: Path, aside: Path,
      step: String): Unit = {
    delete(fs, aside, s"$step(stale aside)")
    if (fs.exists(target)) rename(fs, target, aside, s"$step(target->aside)")
    rename(fs, stage, target, s"$step(stage->target)")
    delete(fs, aside, s"$step(aside)")
  }

  /** Checked delete of every part of `root` that `stale` marks; returns
    * how many went. */
  def sweep(spark: SparkSession, root: String, step: String)(
      stale: Part => Boolean): Int = {
    val (fs, _) = this.fs(spark, root)
    val gone = list(spark, root).filter(stale)
    gone.foreach(p => delete(fs, p.path, step))
    gone.size
  }
}
