package graft

import java.net.URI

import graft.fs.LocalFiles
import graft.functions.HammingDistance.hamming
import graft.plans.GraftExtensions
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("hamming(a,b) <= 0 is rewritten to a = b by the optimizer rule") {
    GraftExtensions.install(spark)
    val sup = Tables.supplier(spark, TestSpark.sf)
      .select($"s_suppkey", $"s_nationkey".cast("long").as("nk"))
    val df = sup.filter(hamming($"s_suppkey", $"nk") <= 0)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.toLowerCase.contains("hammingdistance"), opt)
    assert(opt.contains("= "), opt)
    assert(df.count() ==
      sup.filter($"s_suppkey" === $"nk").count())
  }

  test("non-trivial hamming comparison is left intact") {
    GraftExtensions.install(spark)
    val df = Tables.supplier(spark, TestSpark.sf)
      .filter(hamming($"s_suppkey", $"s_nationkey".cast("long")) <= 1)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.toLowerCase.contains("hammingdistance"), opt)
    df.count() // executes fine with the native expression in the filter
  }

  test("install on a live session leaves the file: file system alone") {
    val s = spark.newSession()
    val hadoopConf = s.sparkContext.hadoopConfiguration
    def state = (sys.props.get(LocalFiles.Key), hadoopConf.get("fs.file.impl"),
      s.conf.getOption(LocalFiles.Key))
    val before = state
    val fs = FileSystem.get(URI.create("file:///"), hadoopConf)
    GraftExtensions.install(s)
    assert(state == before)
    assert(FileSystem.get(URI.create("file:///"), hadoopConf) eq fs,
      "Hadoop's cached instance keeps serving")
  }
}
