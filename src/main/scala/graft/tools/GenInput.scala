package graft.tools

import graft.synth.ImageGen

/** Generate a bench input table: `runMain graft.tools.GenInput <bases> <dir> [light]`. */
object GenInput {
  def main(args: Array[String]): Unit = {
    val bases = args(0).toLong
    val dir = args(1)
    val light = args.length < 3 || args(2) == "light"
    val spark = BenchExtra.session()
    val t0 = System.nanoTime()
    ImageGen.generate(spark, bases, 42L, light = light)
      .write.mode("overwrite").parquet(dir)
    val n = spark.read.parquet(dir).count()
    println(f"[gen] $n rows -> $dir in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
