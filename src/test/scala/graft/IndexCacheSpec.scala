package graft

import graft.ops.IndexCache

/** The one memo behind every `graft.ops` index: nested builds, failed
  * builds, stale-digest eviction, and a guard that no hand-rolled memo map
  * comes back beside it. */
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

  test("no hand-rolled memo map under graft/ops: IndexCache is the only one") {
    val dir = java.nio.file.Paths.get("src/main/scala/graft/ops")
    val banned = "ConcurrentHashMap|computeIfAbsent|identityHashCode".r
    val files = java.nio.file.Files.list(dir).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "IndexCache.scala")
    assert(files.size > 10)
    val hits = files.flatMap { p =>
      java.nio.file.Files.readString(p).linesIterator.zipWithIndex.collect {
        case (line, i) if banned.findFirstIn(line).isDefined =>
          s"${p.getFileName}:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
