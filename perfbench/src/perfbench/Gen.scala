package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A row of the generated source table: long pk `id`, long delta column
  * `ver`, ints, doubles, a date, and strings padded with blanks that the
  * sync trims. */
final case class SrcRow(
    id: Long, ver: Long, qty: Int, region: Int, price: Double, score: Double,
    created: java.sql.Date, name: String, category: String, note: String)

/** What the generator changed at one sync: the counts a delta sync's
  * `LoadResult` must report. */
final case class StepCounts(step: Int, inserts: Long, updates: Long, deletes: Long)

object Mix {
  private def splitmix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(a: Long, b: Long, c: Long): Long = splitmix(a ^ splitmix(b ^ splitmix(c)))
  def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))
}

/** Seeded SCD2 source history. Rows `0 until rows` exist at sync 0; sync `s`
  * inserts `inserts` fresh ids and, for each live original row, draws one
  * uniform number that decides whether the row is deleted or updated (its
  * `ver` moves past every earlier value, so no update is "strange"). Only
  * original rows are ever updated or deleted, and a deleted row never
  * returns, so no row changes before it exists: every change is seen by the
  * sync that follows it, and the counts below are exact. */
final case class Scd2Gen(seed: Long, rows: Long, inserts: Long, delFrac: Double, updFrac: Double) {
  private val verStep = 10000000000L

  /** (alive, ver) of original row `id` after `step` syncs, and the event
    * of the last step (0 none, 1 delete, 2 update). */
  private def evolve(id: Long, step: Int): (Boolean, Long, Int) = {
    var alive = true
    var ver = id
    var last = 0
    var s = 1
    while (s <= step) {
      last = 0
      if (alive) {
        val r = Mix.unit(Mix.hash(seed, id, s))
        if (r < delFrac) { alive = false; last = 1 }
        else if (r < delFrac + updFrac) { ver = s * verStep + id; last = 2 }
      }
      s += 1
    }
    (alive, ver, last)
  }

  def liveRows(step: Int): Long = (0L until rows).count(id => evolve(id, step)._1) + step * inserts

  def counts(step: Int): StepCounts = {
    var d, u = 0L
    var id = 0L
    while (id < rows) {
      evolve(id, step)._3 match { case 1 => d += 1; case 2 => u += 1; case _ => }
      id += 1
    }
    StepCounts(step, inserts, u, d)
  }

  def row(id: Long, step: Int): Option[SrcRow] = {
    val (alive, ver) =
      if (id < rows) { val e = evolve(id, step); (e._1, e._2) }
      else ((id - rows) / inserts + 1 <= step, ((id - rows) / inserts + 1) * verStep + id)
    if (!alive) None
    else {
      val h1 = Mix.hash(seed, id, ver ^ 0x1111L)
      val h2 = Mix.hash(seed, id, ver ^ 0x2222L)
      val h3 = Mix.hash(seed, id, ver ^ 0x3333L)
      val h4 = Mix.hash(seed, id, ver ^ 0x4444L)
      Some(SrcRow(id, ver,
        qty = java.lang.Math.floorMod(h1, 1000L).toInt,
        region = java.lang.Math.floorMod(h1 >>> 20, 50L).toInt,
        price = java.lang.Math.floorMod(h2, 1000000L) / 100.0,
        score = Mix.unit(h2),
        created = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(18262L + java.lang.Math.floorMod(h3, 2000L))),
        name = s"name_${java.lang.Math.floorMod(h3 >>> 30, 100000L)}    ",
        category = s"  ${Scd2Gen.categories(java.lang.Math.floorMod(h4, Scd2Gen.categories.size.toLong).toInt)}  ",
        note = f"$h4%016x$h1%016x"))
    }
  }

  /** Writes the full source snapshot after `step` syncs as `files` parquet
    * files; returns its size in bytes. */
  def write(spark: SparkSession, step: Int, path: String, files: Int): Long = {
    import spark.implicits._
    val g = this
    spark.range(0L, rows + step * inserts, 1L, files).as[Long]
      .mapPartitions(_.flatMap(id => g.row(id, step)))
      .write.mode("overwrite").parquet(path)
    Files.bytes(path)
  }
}

object Scd2Gen {
  val categories: Vector[String] = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu")

  /** The columns as the sync stores them (strings trimmed), hashed into an
    * order-independent checksum: (row count, sum of per-row xxhash64). */
  def checksum(df: DataFrame): (Long, BigDecimal) = {
    val cols = Seq(col("id"), col("ver"), col("qty"), col("region"), col("price"), col("score"),
      col("created"), trim(col("name")), trim(col("category")), trim(col("note")))
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}

/** Seeded document corpus in the shape of the sf0.1 `documents` table (a
  * small skewed vocabulary). Documents come in fixed groups of five: three
  * fresh documents of 30-100 tokens, an exact copy of the first (its first
  * token upper-cased, which normalization undoes) and a near copy of the
  * first with one or two tokens replaced. The duplicate structure is the
  * same for every seed, so output sizes and operator work vary little. */
object CorpusGen {
  private val vocab: Vector[String] = Vector(
    "a", "the", "data", "spark", "table", "query", "value", "row", "column", "key", "join", "scan",
    "sort", "hash", "group", "filter", "window", "stream", "batch", "merge", "order", "line", "part",
    "fast", "slow", "big", "small", "agg", "vector", "customer", "index", "page", "file", "block",
    "cache", "lock", "commit", "log", "node", "task", "stage", "shuffle", "plan", "cost", "rule",
    "cell", "schema", "type", "field", "map", "set", "list", "tree", "graph", "edge", "path",
    "rank", "score", "token", "text", "word", "term", "doc", "copy")
  private val cum: Array[Double] = {
    val w = vocab.indices.map(r => 1.0 / math.pow(r + 1.0, 0.8))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def docs(seed: Long, n: Int): Seq[(Long, String, String, String, Long)] = {
    val rnd = new java.util.Random(seed)
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble())
      vocab(math.min(if (i >= 0) i else -i - 1, vocab.size - 1))
    }
    val texts = new scala.collection.mutable.ArrayBuffer[Vector[String]](n)
    (0 until n).map { i =>
      val toks = i % 5 match {
        case 3 => val b = texts(i - 3); b.updated(0, b(0).toUpperCase)
        case 4 =>
          (0 to (i / 5) % 2).foldLeft(texts(i - 4))((t, _) => t.updated(rnd.nextInt(t.size), word()))
        case _ => Vector.fill(30 + rnd.nextInt(71))(word())
      }
      texts += toks
      val text = toks.mkString(" ")
      (i.toLong, text, s"l${rnd.nextInt(5)}", s"src${rnd.nextInt(20)}", text.length.toLong)
    }
  }

  val copyStride = 10000000L

  /** `copies` salted copies of `base`: copy `cp` shifts ids by
    * `cp * copyStride` and suffixes every token with `_<salt><cp>`, so the
    * copies share no shingle and every operator's output on the copies is
    * its output on `base`, once per copy. */
  def salted(base: DataFrame, copies: Int, salt: String): DataFrame = {
    val cps = base.sparkSession.range(0, copies).select(col("id").as("cp"))
    base.crossJoin(broadcast(cps))
      .select((col("doc_id") + col("cp") * copyStride).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(t, lit(s"_$salt"), col("cp").cast("string")))).as("text"),
        col("lang"), col("source"), col("n_chars"))
  }
}

object Files {
  def bytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  /** path relative to `root` → (size, mtime) of every regular file. */
  def listing(root: String): Map[String, (Long, Long)] = {
    val r = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(r)) Map.empty
    else {
      val s = java.nio.file.Files.walk(r)
      try {
        val it = s.iterator()
        val b = Map.newBuilder[String, (Long, Long)]
        while (it.hasNext) {
          val f = it.next()
          if (java.nio.file.Files.isRegularFile(f))
            b += r.relativize(f).toString ->
              ((java.nio.file.Files.size(f), java.nio.file.Files.getLastModifiedTime(f).toMillis))
        }
        b.result()
      } finally s.close()
    }
  }

  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
  }
}
