package graft.store

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The commit protocol every persisted generation store shares: a
  * store directory holds numbered children `prefix-NNNN`, each written
  * whole into a FRESH number and made visible by creating its commit
  * marker LAST (the parquet `_SUCCESS` idea lifted one level, to the
  * whole generation). Readers serve the latest committed child, so
  * they see either the complete new generation or the previous one —
  * never a half-written mix — and a crashed writer leaves only an
  * invisible child that a retry never reuses.
  *
  * The rules, one per decision:
  *  - a child name is `prefix` followed by DIGITS ONLY (anything else
  *    is foreign: never served, never numbered, never vacuumed), and
  *    children order by their PARSED number — past the %04d padding
  *    `gen-10000` outranks `gen-9999`;
  *  - allocation takes 1 + the highest number among ALL children,
  *    committed or not (else `first`), and deletes nothing — an
  *    uncommitted child may be a writer mid-build;
  *  - [[vacuum]] never touches the serving child; retired committed
  *    children (and the store's flat-layout data) go once the serving
  *    commit has soaked past the grace window, an uncommitted child
  *    once its own newest mtime has aged past it; `graceMs = 0` is
  *    immediate.
  *
  * Hadoop FileSystem metadata calls only (HDFS/S3 stores resolve the
  * same as local ones) — no Spark action runs here. Single-writer
  * maintenance contract: concurrent writers to one store are the
  * caller's to exclude.
  *
  * @param marker    commit-marker file name inside a committed child
  * @param first     number of the first child a store allocates
  * @param flatData  the pre-generation flat layout's data entries
  *                  directly under the store directory — retired (and
  *                  vacuumed) by the first committed generation
  * @param flatEvents numbered children of the flat layout under
  *                  another prefix (postings' flat-era `delta-NNNN`
  *                  events), vacuumed like retired generations */
private[graft] final class Generations(val marker: String, first: Int,
                                       prefix: String = "gen-",
                                       flatData: Set[String] = Set.empty,
                                       flatEvents: Option[String] = None) {

  /** Every numbered child of `dir`, committed or not, by number. */
  def list(spark: SparkSession, dir: String): Seq[Path] =
    numbered(Generations.fs(spark, dir), new Path(dir)).map(_._2)

  /** The committed children of `dir`, oldest first. */
  def committed(spark: SparkSession, dir: String): Seq[Path] =
    committedIn(Generations.fs(spark, dir), new Path(dir))

  /** The serving child of `dir`: its latest committed generation. */
  def latest(spark: SparkSession, dir: String): Option[String] =
    committed(spark, dir).lastOption.map(_.toString)

  /** Directory for the next child of `dir` (not created). */
  def next(spark: SparkSession, dir: String): String = {
    val n = numbered(Generations.fs(spark, dir), new Path(dir))
      .lastOption.fold(first)(_._1 + 1)
    f"$dir/$prefix$n%04d"
  }

  /** Make `gen` visible — call after EVERY data write into it has
    * completed (and after any [[graft.util.Par]] await covering them). */
  def commit(spark: SparkSession, gen: String): Unit = {
    val m = new Path(gen, marker)
    Generations.fs(spark, gen).create(m, true).close()
  }

  /** Reclaim what the serving child of `dir` retired, under one grace
    * window (see the class rules); `retiredAtOnce` drops the soak
    * wait for retired committed children and flat data, keeping it for
    * uncommitted ones. A store with no committed child has nothing
    * retired. Returns the deleted paths. */
  def vacuum(spark: SparkSession, dir: String, graceMs: Long,
             retiredAtOnce: Boolean = false): Seq[String] = {
    val fs = Generations.fs(spark, dir)
    val p = new Path(dir)
    val serving = committedIn(fs, p).lastOption match {
      case Some(s) => s
      case None => return Nil
    }
    val now = System.currentTimeMillis()
    def aged(mtime: Long): Boolean = graceMs == 0L || now - mtime > graceMs
    val soaked = retiredAtOnce ||
      aged(fs.getFileStatus(new Path(serving, marker)).getModificationTime)
    def newestMtime(st: FileStatus): Long =
      (st.getModificationTime +:
        fs.listStatus(st.getPath).map(_.getModificationTime).toSeq).max
    fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName != serving.getName)
      .filter { st =>
        val name = st.getPath.getName
        if ((prefix +: flatEvents.toSeq)
            .exists(Generations.number(name, _).nonEmpty))
          if (isCommitted(fs, st.getPath)) soaked else aged(newestMtime(st))
        else flatData.contains(name) && soaked
      }
      .map { st => fs.delete(st.getPath, true); st.getPath.toString }
  }

  private def isCommitted(fs: FileSystem, gen: Path): Boolean =
    fs.exists(new Path(gen, marker))

  private def committedIn(fs: FileSystem, dir: Path): Seq[Path] =
    numbered(fs, dir).map(_._2).filter(isCommitted(fs, _))

  private def numbered(fs: FileSystem, dir: Path): Seq[(Int, Path)] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .flatMap(st =>
        Generations.number(st.getPath.getName, prefix).map(_ -> st.getPath))
      .sortBy(_._1)
}

private[graft] object Generations {

  /** The one Hadoop configuration source of the generation stores. */
  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Parsed number of `prefix` + digits, None for any other name. */
  private def number(name: String, prefix: String): Option[Int] = {
    val s = name.stripPrefix(prefix)
    if (name.startsWith(prefix) && s.nonEmpty && s.forall(_.isDigit))
      s.toIntOption
    else None
  }

  /** Vector indexes ([[graft.llm.Similarity]]): the flat build is the
    * implicit first generation, so a reindex starts at `gen-0001`. */
  val VectorIndex = new Generations("_GRAFT_COMMITTED", first = 1,
    flatData = Set("centroids", "coarse", "assignments", "codebooks",
      "codes"))

  /** BM25 postings bases ([[graft.llm.Search]]); a legacy flat base
    * carries its own flat-era `delta-NNNN` events. */
  val Postings = new Generations("_graft_delta_committed", first = 0,
    flatData = Set("postings", "df", "stats", "ids", "tombstones"),
    flatEvents = Some("delta-"))

  /** Maintenance events under one postings base — same marker. */
  val PostingsEvents = new Generations(Postings.marker, first = 0,
    prefix = "delta-")

  /** Rank-trace generations ([[graft.llm.LinkGraph]]). */
  val RankTrace = new Generations("_graft_trace_committed", first = 0)
}
