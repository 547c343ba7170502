package graft

import graft.ops.IndexCache

/** The one memo behind every `graft.ops` index: nested builds, failed
  * builds, stale-digest eviction, and source guards that no hand-rolled
  * memo map, and no session builder beside [[graft.Mains.localSession]],
  * comes back in the program. */
class IndexCacheSpec extends SparkTestBase {

  test("a builder may read another entry whose key shares its hash bin") {
    // equal String.hashCode, same session and digest: the two keys hash
    // identically, which a nested ConcurrentHashMap.computeIfAbsent
    // rejects with `IllegalStateException: Recursive update`
    assert("Aa".hashCode == "BB".hashCode)
    val outer = IndexCache(spark, "Aa", "nested") {
      IndexCache(spark, "BB", "nested")("inner") + "+outer"
    }
    assert(outer == "inner+outer")
    assert(IndexCache(spark, "BB", "nested")("rebuilt") == "inner")
    assert(IndexCache(spark, "Aa", "nested")("rebuilt") == "inner+outer")
  }

  test("a build that throws leaves no entry; the next call rebuilds") {
    var builds = 0
    def build(): Int = {
      builds += 1
      if (builds == 1) throw new IllegalStateException("first build fails")
      builds
    }
    intercept[IllegalStateException](IndexCache(spark, "flaky", "d")(build()))
    assert(IndexCache(spark, "flaky", "d")(build()) == 2)
    assert(IndexCache(spark, "flaky", "d")(build()) == 2)
    assert(builds == 2)
  }

  test("installing a new digest evicts the older digest of the same name") {
    assert(IndexCache(spark, "fixture", "v1")("old") == "old")
    assert(IndexCache(spark, "fixture", "v2")("new") == "new")
    assert(IndexCache(spark, "fixture", "v1")("rebuilt") == "rebuilt")
  }

  /** Lines matching `banned` in the .scala files under `dir` (walked
    * recursively), except those in the file named `allowed`. */
  private def sourceHits(dir: String, banned: scala.util.matching.Regex,
      allowed: String, minFiles: Int): Seq[String] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != allowed)
    assert(files.size > minFiles)
    lineHits(files, banned)
  }

  /** Lines matching `banned` in `files`, as `file:line: text`. */
  private def lineHits(files: Seq[java.nio.file.Path],
      banned: scala.util.matching.Regex): Seq[String] =
    files.flatMap { p =>
      java.nio.file.Files.readString(p).linesIterator.zipWithIndex.collect {
        case (line, i) if banned.findFirstIn(line).isDefined =>
          s"${p.getFileName}:${i + 1}: ${line.trim}"
      }
    }

  test("no hand-rolled memo map under graft/ops: IndexCache is the only one") {
    val hits = sourceHits("src/main/scala/graft/ops",
      "ConcurrentHashMap|computeIfAbsent|identityHashCode".r, "IndexCache.scala", 10)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("counter-state streaming twins aggregate with groupBy, not GroupState") {
    val files = Seq("Benford", "CountMin", "Quantile", "Contingency", "KsDrift",
      "Periodogram", "KAnon", "Scd2", "Kmv").map(t =>
      java.nio.file.Paths.get(s"src/main/scala/graft/streaming/Streaming$t.scala"))
    val hits = lineHits(files, "GroupState|flatMapGroupsWithState".r)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no SparkSession.builder() in src/main outside Mains.localSession") {
    val hits = sourceHits("src/main", """SparkSession\s*\.\s*builder""".r,
      "Mains.scala", 50)
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
