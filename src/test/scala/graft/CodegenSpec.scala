package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every generated method of a benched query stays JIT-able. HotSpot never
  * compiles a method with more bytecode than its huge-method limit, and
  * Spark's own `spark.sql.codegen.hugeMethodLimit` (65535) is far above
  * it, so a whole-stage-codegen stage past that limit silently runs in the
  * bytecode interpreter. sf0.001 has as many embeddings as sf0.01, so the
  * LSH near-dup stage plans the same 40-table × 6-bit shape here. */
class CodegenSpec extends AnyFunSuite with CacheDrained {

  test("no bench query's whole-stage codegen has a method over HotSpot's JIT limit") {
    val spark = TestSpark.spark
    assert(SparkEntry.benchQueries.size == 42)
    val stages = SparkEntry.benchQueries.map { name =>
      val sizes = RunOne.codegenMethodSizes(spark)(SparkEntry.queries(name)(spark, TestSpark.Sf))
      CacheTracker.releaseAll()
      name -> sizes
    }
    // the per-row kernels this guards were once huge methods
    Seq("sim_near_dup_t08", "join_bloom_prefilter").foreach(q =>
      assert(stages.toMap.apply(q).nonEmpty, s"$q planned no whole-stage codegen"))
    val over = for {
      (name, sizes) <- stages
      (stage, bytes) <- sizes if bytes > RunOne.HugeMethodLimit
    } yield s"$name: $bytes bytes in $stage"
    assert(over.isEmpty, over.mkString("methods over the JIT limit:\n", "\n", ""))
  }
}
