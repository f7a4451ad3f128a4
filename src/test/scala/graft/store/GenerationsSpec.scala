package graft.store

import java.io.File

import graft.SparkSpec
import graft.llm.{LinkGraph, Search, Similarity}

/** The shared generation protocol over the three stores that use it —
  * vector index, BM25 postings and rank trace — on hand-built local
  * directories: filesystem metadata only, no Spark job. Each case runs
  * against every store's marker name, and through the store's own
  * public resolver and vacuum where it has one. */
class GenerationsSpec extends SparkSpec {

  private case class Store(name: String, gens: Generations,
                           flatData: Seq[String], retiredAtOnce: Boolean,
                           resolve: Option[String => String],
                           vacuum: (String, Long) => Seq[String])

  private def stores: Seq[Store] = Seq(
    Store("vector index", Generations.VectorIndex, Seq("assignments"),
      retiredAtOnce = false, Some(Similarity.resolveIndexRoot(spark, _)),
      Similarity.vacuumIndex(spark, _, _)),
    Store("postings", Generations.Postings, Seq("postings", "delta-0003"),
      retiredAtOnce = false, Some(Search.servingRoot(spark, _)),
      Search.vacuumPostings(spark, _, _)),
    Store("rank trace", Generations.RankTrace, Nil,
      retiredAtOnce = true, None,
      LinkGraph.vacuumRankTrace(spark, _, _)))

  private val hourMs = 3600L * 1000L

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_gens").toString

  /** A child directory with one data file, committed or not, whose
    * entries all carry the modification time `mtime`. */
  private def child(st: Store, dir: String, name: String,
                    committed: Boolean,
                    mtime: Long = System.currentTimeMillis()): File = {
    val d = new File(dir, name)
    assert(d.mkdirs())
    new File(d, "part-00000.parquet").createNewFile()
    if (committed) new File(d, st.gens.marker).createNewFile()
    setMtime(d, mtime)
    d
  }

  private def setMtime(d: File, mtime: Long): Unit =
    (d +: d.listFiles().toSeq).foreach(f => assert(f.setLastModified(mtime)))

  private def names(dir: String): Set[String] =
    new File(dir).listFiles().map(_.getName).toSet

  private def resolvesTo(st: Store, dir: String, name: String): Unit = {
    assert(st.gens.latest(spark, dir).exists(_.endsWith(s"/$name")),
      st.name)
    st.resolve.foreach(r => assert(r(dir).endsWith(s"/$name"), st.name))
  }

  test("gen-10000 outranks gen-9999 in resolve and allocate") {
    for (st <- stores) {
      val dir = tmp()
      child(st, dir, "gen-9999", committed = true)
      child(st, dir, "gen-10000", committed = true)
      resolvesTo(st, dir, "gen-10000")
      assert(st.gens.next(spark, dir) == s"$dir/gen-10001", st.name)
    }
  }

  test("non-numeric names are ignored by resolve and allocate") {
    for (st <- stores) {
      val dir = tmp()
      child(st, dir, "gen-0002", committed = true)
      for (foreign <- Seq("gen-12abc", "gen-", "delta-x"))
        child(st, dir, foreign, committed = true)
      resolvesTo(st, dir, "gen-0002")
      assert(st.gens.next(spark, dir) == s"$dir/gen-0003", st.name)
      assert(st.gens.list(spark, dir).map(_.getName) == Seq("gen-0002"))
    }
  }

  test("an uncommitted child is never served and its number never reused") {
    for (st <- stores) {
      val dir = tmp()
      assert(st.gens.next(spark, dir).endsWith(
        if (st.gens eq Generations.VectorIndex) "/gen-0001" else "/gen-0000"),
        st.name)
      child(st, dir, "gen-0001", committed = true)
      child(st, dir, "gen-0007", committed = false)
      resolvesTo(st, dir, "gen-0001")
      assert(st.gens.next(spark, dir) == s"$dir/gen-0008", st.name)
      assert(names(dir).contains("gen-0007"), "allocation deleted a child")
    }
  }

  test("vacuum: serving kept; retired once the serving commit soaks; uncommitted once it ages") {
    for (st <- stores) {
      val dir = tmp()
      val old = System.currentTimeMillis() - 2 * hourMs
      st.flatData.foreach(f =>
        child(st, dir, f, committed = f.startsWith("delta-")))
      child(st, dir, "gen-0001", committed = true)
      val serving = child(st, dir, "gen-0002", committed = true)
      val straggler = child(st, dir, "gen-0005", committed = false)
      child(st, dir, "gen-x", committed = false, mtime = old)
      val retired = Set("gen-0001") ++ st.flatData
      // nothing has soaked: only a store that retires at once reclaims
      val first = st.vacuum(dir, hourMs).map(new File(_).getName).toSet
      assert(first == (if (st.retiredAtOnce) retired else Set.empty), st.name)
      // the serving commit soaks: retired surfaces go, the young
      // uncommitted straggler (maybe a writer mid-build) stays
      setMtime(serving, old)
      st.vacuum(dir, hourMs)
      assert(names(dir) == Set("gen-0002", "gen-0005", "gen-x"), st.name)
      // the straggler ages past the window: reclaimed; foreign kept
      setMtime(straggler, old)
      assert(st.vacuum(dir, hourMs).map(new File(_).getName) ==
        Seq("gen-0005"), st.name)
      assert(names(dir) == Set("gen-0002", "gen-x"), st.name)
      resolvesTo(st, dir, "gen-0002")
    }
  }

  test("vacuum with graceMs = 0 reclaims at once, whatever the straggler's mtime") {
    for (st <- stores) {
      val dir = tmp()
      child(st, dir, "gen-0001", committed = true)
      child(st, dir, "gen-0002", committed = true)
      // written at (or after) the vacuum's own clock reading
      child(st, dir, "gen-0003", committed = false,
        mtime = System.currentTimeMillis() + 60000L)
      assert(st.vacuum(dir, 0L).map(new File(_).getName).toSet ==
        Set("gen-0001", "gen-0003"), st.name)
      assert(names(dir) == Set("gen-0002"), st.name)
    }
  }
}
