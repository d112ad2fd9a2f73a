package graft

import graft.plans.CodegenCache
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a working set beyond Spark's default 100 entries compiles each class once") {
    spark // the shared session installs GraftExtensions, which sizes the cache
    // 150 distinct generated classes: each literal is inlined into the
    // source, so each projection is its own cache key. Cycling through
    // more keys than a 100-entry LRU holds evicts every one of them
    // before its second use.
    val projections = (0 until 150).map(i =>
      Seq(Add(BoundReference(0, IntegerType, nullable = false), Literal(1000 + i))))
    def compileAll(): Seq[Class[_]] =
      projections.map(GenerateUnsafeProjection.generate(_).getClass)
    val first = compileAll()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = compileAll()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles)
    assert(first == second, "a cache hit returns the class compiled first")
  }

  test("a user-set cache size is kept; an unset one gets graft's constant") {
    assert(CodegenCache.entriesFor(Some("64")).isEmpty)
    assert(CodegenCache.entriesFor(None).contains(CodegenCache.Entries))
    assert(CodegenCache.Entries > 100, "above Spark's default")
  }
}
