package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** Sizes Spark's compiled-class cache (`CodeGenerator`'s LRU of Janino
  * classes, keyed by generated source) so each generated class is
  * compiled once per JVM — the reference compiles each generated
  * operator once and reuses the class (`CompileUtils.java:40`).
  *
  * The cache is JVM-wide and built once, when `CodeGenerator`'s object
  * initialises, from the static conf `spark.sql.codegen.cache.maxEntries`
  * (default 100). graft's working set is larger than that: with 100
  * entries every warm pass of the benchmark's `batch` set recompiled
  * 55-103 classes and every `stream` pass 138. The full 459-query
  * battery compiles 5431 distinct classes (sf0.01, 4 cores), and an LRU
  * smaller than a cyclic working set misses on nearly every access: a
  * second battery pass recompiled 9570 classes at 100 entries, 7481 at
  * 1000 and 215 at 8192 (the sources that differ on every run). At
  * 8192 the cache held ~110 MB more heap and ~40 MB more metaspace
  * than at 1000 (CHANGES.md has the runs).
  *
  * A user value wins: when the key is set as a JVM system property
  * (`-D...`, or spark-submit's `--conf`) or in the active SparkContext's
  * conf, the cache is left alone. A value given only through
  * `SparkSession.builder().config(...)` is not visible at extension
  * time, so it does not stop the sizing.
  */
object CodegenCache {
  val Key: String = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  /** Entries kept: the full battery's working set plus room for the
    * per-run sources that never repeat. */
  val Entries = 8192

  /** The size to impose, given the user's own setting if any: `None`
    * keeps the user's value (or Spark's default for it). */
  def entriesFor(userValue: Option[String]): Option[Int] =
    if (userValue.isDefined) None else Some(Entries)

  private lazy val sized: Unit =
    entriesFor(GraftExtensions.userConf(Key))
      .foreach { n =>
        // CodeGenerator's initialiser builds the cache from SQLConf.get;
        // reading the object runs it with `conf` in scope (no effect if
        // it already ran)
        val conf = new SQLConf
        conf.setConfString(Key, n.toString)
        SQLConf.withExistingConf(conf)(CodeGenerator.compileTime)
      }

  /** Builds the cache at [[Entries]] unless the user set a size; once per
    * JVM, idempotent. A cache some earlier compile already built keeps
    * its size — Spark offers no way to resize it. */
  def ensureSized(): Unit = sized
}
