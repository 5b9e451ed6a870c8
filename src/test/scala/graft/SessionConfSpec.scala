package graft

import scala.jdk.CollectionConverters._

/** Guards the load-bearing session configuration against refactor drift.
  * The round-12 bench root cause (Spark's 100-entry compiled-codegen
  * cache thrashing a ~200-query session) is fixed by a STATIC conf that
  * every main sets via the shared [[GraftSession]] factory; this spec
  * fails if the factory ever loses it. The shared test session is built
  * through the same factory, so asserting on the live session asserts
  * the factory's output, not a copy of the expected values.
  */
class SessionConfSpec extends SparkSpec {

  test("the factory-built session carries the codegen-cache cap (round-12 root cause)") {
    // static conf — readable but not settable after session init; if the
    // factory dropped it, every ~200-query session would re-pay Janino
    // compilation + JIT warm-up per query execution (q170: 7.8 s vs 3.3 s)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheMaxEntries)
    assert(GraftSession.CodegenCacheMaxEntries.toInt >= 4096,
      "the cap must cover the ~2-3k distinct codegen units of a full " +
        "registry sweep with headroom")
  }

  test("no main-tree file but GraftSession.scala builds a SparkSession by hand") {
    // the scaladoc promise "every main builds through here": a hand-built
    // session skips the confs above (q170 7.8 s vs 3.3 s without the
    // codegen cap), so a dev main's numbers would come from a different
    // engine configuration than Bench's
    import java.nio.file.{Files, Path, Paths}
    val root = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(root), s"main source tree not at ${root.toAbsolutePath}")
    val stream = Files.walk(root)
    val sources =
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally stream.close()
    def isFactory(f: Path) = f.getFileName.toString == "GraftSession.scala"
    assert(sources.exists(isFactory), s"GraftSession.scala not found under $root")
    val handBuilt = sources.filterNot(isFactory)
      .filter(f => Files.readString(f).contains("SparkSession.builder"))
      .map(root.relativize).sortBy(_.toString)
    assert(handBuilt.isEmpty,
      s"build the session through GraftSession instead: ${handBuilt.mkString(", ")}")
  }

  test("no main-tree file but Store.scala names the publish protocol's __staging/__backup siblings") {
    // Store.publishAtomicWith is the one crash-safe swap and
    // Store.resolvePublished the one recovery read; a string literal
    // naming a sibling elsewhere is a hand-written copy of either.
    // Literals are tokenized together with comments and char literals, so
    // a quote inside a comment (or "//" inside a string) cannot
    // desynchronize the scan, and scaladoc mentions do not count.
    import java.nio.file.{Files, Paths}
    val root = Paths.get("src", "main", "scala")
    val stream = Files.walk(root)
    val sources =
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally stream.close()
    val token = "(?s)\"\"\"(.*?)\"\"\"|\"((?:[^\"\\\\\n]|\\\\.)*)\"|//[^\n]*|/\\*.*?\\*/|'(?:[^'\\\\\n]|\\\\.)'".r
    def namesSibling(f: java.nio.file.Path) =
      token.findAllMatchIn(Files.readString(f)).exists { m =>
        val lit = Option(m.group(1)).orElse(Option(m.group(2)))
        lit.exists(l => l.contains("__staging") || l.contains("__backup"))
      }
    val store = root.resolve(Paths.get("graft", "pipeline", "Store.scala"))
    assert(sources.contains(store) && namesSibling(store),
      "the scan no longer finds Store's own sibling names")
    val copies = sources.filter(f => f != store && namesSibling(f))
      .map(root.relativize).sortBy(_.toString)
    assert(copies.isEmpty, "publish through Store.publishAtomicWith and read " +
      s"through Store.resolvePublished instead: ${copies.mkString(", ")}")
  }

  test("the factory-built session carries the oracle-critical confs") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  test("Bench's index-backed list names registered queries only (round-14 flag)") {
    // the bench emits these rows under "index_backed"/"ib" so cache-warm
    // consumers can't be read as raw-compute speed; a renamed or dropped
    // query must fail here, not silently mislabel the bench output
    val registry = SparkEntry.queries.keySet
    val unknown = Bench.IndexBackedQueries.filterNot(registry.contains)
    assert(unknown.isEmpty, s"index-backed names not in registry: $unknown")
    assert(Bench.IndexBackedQueries.distinct.size ==
      Bench.IndexBackedQueries.size, "duplicate index-backed names")
  }

  test("build.sbt forks tests with the widened JVM code cache (pairs with the codegen cap)") {
    // -XX:ReservedCodeCacheSize=512m is the JVM half of the round-12 fix:
    // retaining 8k generated classes is pointless if the JIT'd code is
    // evicted at the code-cache layer instead. Assert the running JVM
    // actually got the flag (catches a build.sbt javaOptions refactor).
    val bean = java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    val codeCacheMax = scala.jdk.CollectionConverters
      .ListHasAsScala(bean).asScala
      .filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getMax).sum
    assert(codeCacheMax >= 500L * 1024 * 1024,
      s"total JIT code-heap capacity $codeCacheMax < 500 MiB — the " +
        "-XX:ReservedCodeCacheSize=512m fork option is missing")
  }
}
