package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every table is a pure function of its size and
  * seed: columns come from hashes of the row id (not from `rand`), so the
  * rows do not depend on partitioning, and the small tables built in the JVM use
  * a `SplittableRandom` with a fixed seed. */
object Inputs {

  /** Uniform on [0, 1) from (row id, stream, seed). */
  private def u(id: Column, stream: Int, seed: Long): Column =
    pmod(xxhash64(id, lit(seed), lit(stream)), lit(1L << 53)).cast("double") / lit(math.pow(2, 53))

  /** Standard normal by Box-Muller over two hash streams. */
  private def normal(id: Column, stream: Int, seed: Long): Column =
    sqrt(lit(-2.0) * log(lit(1.0) - u(id, stream, seed))) *
      cos(lit(2 * math.Pi) * u(id, stream + 1000, seed))

  private def level(id: Column, stream: Int, seed: Long, levels: Seq[String]): Column =
    element_at(array(levels.map(lit): _*), (floor(u(id, stream, seed) * levels.length) + 1).cast("int"))

  val liNumeric: Seq[String] =
    Seq("l_quantity", "l_discount", "l_tax") ++ (1 to 13).map(i => f"x$i%02d")
  val liCategorical: Seq[String] = Seq("c1", "c2", "c3", "c4")

  /** A lineitem-shaped table widened to 16 numeric and 4 categorical
    * predictors. The TPC-H columns keep their ranges (quantity 1-50,
    * discount 0-0.10, tax 0-0.08); the outcomes carry a planted signal so
    * every selector has something to find: `l_returnflag` rises with
    * quantity, `l_linestatus` with discount, `l_extendedprice` is
    * quantity times a unit price. `x01, x03, ...` are noisy copies of
    * `l_quantity` (noise grows with the index), `x02, x04, ...` pure noise;
    * `c1` buckets quantity, `c2` leans on discount, `c3`/`c4` are noise. */
  def lineitem(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val id = col("id")
    val qty = (floor(u(id, 1, seed) * 50) + 1).cast("double")
    val disc = floor(u(id, 2, seed) * 11) / 100
    val tax = floor(u(id, 3, seed) * 9) / 100
    val unit = round(lit(900.0) + u(id, 4, seed) * 1200, 2)
    val base = spark.range(0, n, 1, 4).select(
      (id / 4 + 1).cast("long").as("l_orderkey"),
      (pmod(id, lit(4)) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"), disc.as("l_discount"), tax.as("l_tax"),
      unit.as("__unit"),
      (qty / 50 * 0.7 + u(id, 5, seed) * 0.6).as("__zr"),
      (disc * 5 + u(id, 6, seed) * 0.7).as("__zs"),
      id)
    val noise = (1 to 13).map { i =>
      val z = normal(id, 10 + i, seed)
      (if (i % 2 == 1) col("l_quantity") + z * (2.0 * i) else z * 10 + 25).as(f"x$i%02d")
    }
    base.select(
      (Seq(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_discount"),
        col("l_tax")) ++ noise ++ Seq(
        when(u(id, 30, seed) < 0.2, level(id, 31, seed, Seq("lo", "mid", "hi")))
          .when(col("l_quantity") <= 17, "lo").when(col("l_quantity") <= 34, "mid")
          .otherwise("hi").as("c1"),
        when(u(id, 32, seed) < 0.3, level(id, 33, seed, Seq("p", "q")))
          .when(col("l_discount") >= 0.05, "q").otherwise("p").as("c2"),
        level(id, 34, seed, Seq("s", "t", "v", "w")).as("c3"),
        level(id, 35, seed, Seq("k1", "k2", "k3", "k4", "k5")).as("c4"),
        round(col("l_quantity") * col("__unit"), 2).as("l_extendedprice"),
        when(col("__zr") > 0.85, "R").when(col("__zr") > 0.55, "A").otherwise("N").as("l_returnflag"),
        when(col("__zs") > 0.6, "F").otherwise("O").as("l_linestatus"))): _*)
  }

  private val vocab = Seq("the", "a", "data", "spark", "table", "query", "join", "filter",
    "group", "order", "sort", "hash", "scan", "window", "stream", "batch", "merge", "key",
    "value", "row", "column", "line", "part", "customer", "vector", "agg", "fast", "slow",
    "big", "small")

  /** `documents(doc_id, text, lang, source, n_chars)`: bag-of-words texts
    * over a 30-word vocabulary, with about 1% exact and 3% near copies of
    * earlier documents so the dedup operators find pairs. */
  def documents(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val r = new SplittableRandom(seed)
    val texts = new Array[String](n)
    val rows = (0 until n).map { i =>
      val roll = r.nextDouble()
      texts(i) =
        if (i > 10 && roll < 0.01) texts(r.nextInt(i))
        else if (i > 10 && roll < 0.04) {
          val w = texts(r.nextInt(i)).split(" ")
          w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.length))
          w.mkString(" ")
        } else Seq.fill(8 + r.nextInt(90))(vocab(r.nextInt(vocab.length))).mkString(" ")
      val lr = r.nextDouble()
      val lang = if (lr < 0.4) "en" else Seq("zh", "de", "es", "fr")(((lr - 0.4) / 0.15).toInt.min(3))
      (i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars").repartition(1)
  }

  /** `embeddings(vec_id, embedding, label)`: unit-norm 64-d float vectors
    * scattered around 8 centres; `label` is the centre. */
  def embeddings(spark: SparkSession, n: Int, seed: Long, dim: Int = 64): DataFrame = {
    import spark.implicits._
    val r = new SplittableRandom(seed)
    def gauss(): Double = math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
    val centres = Array.fill(8, dim)(gauss())
    val rows = (0 until n).map { i =>
      val c = r.nextInt(8)
      val v = Array.tabulate(dim)(d => 0.5 * centres(c)(d) + gauss())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat).toSeq, c)
    }
    rows.toDF("vec_id", "embedding", "label").repartition(1)
  }
}
