package perfbench

import scala.util.Random

import graft.model._

/** Seeded inputs of a run: the operation order of each pass and the
  * `etl_load` pipeline specs. Same seed, same inputs.
  */
object SpecGen {
  /** The op order of pass `pass` (0 is the warm-up pass). */
  def order[T](ops: Seq[T], seed: Long, pass: Int): Seq[T] =
    new Random(seed * 1000003L + pass).shuffle(ops)

  private final case class Table(name: String, key: String, fields: Seq[String],
                                 numeric: Seq[(String, Double, Double)],
                                 strings: Seq[(String, Seq[String])])

  // Value domains of the benchmark's sf0.01 `orders` (gendata.py). Every
  // pipeline reads the same table, so the seed changes what is loaded, not
  // how much work it is. The key is unique, so sort-by-key-then-limit picks
  // the same rows on every run.
  private val orders =
    Table("orders", "o_orderkey",
      Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
      Seq(("o_totalprice", 1000.0, 500000.0), ("o_custkey", 0.0, 1500.0)),
      Seq(("o_orderstatus", Seq("O", "P", "F")),
        ("o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))))

  /** Rows every pipeline lands: the filters keep at least a third of the
    * 15,000 orders, so the limit always binds.
    */
  val rowsPerPipeline: Int = 2000

  val formats: Seq[String] = Seq("parquet", "csv", "json", "orc")

  /** Text sinks keep microseconds, so a read-back compares equal. */
  val textOptions: Map[String, String] = Map(
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** One file-sink pipeline per format, in seeded order, each over `orders`
    * with seeded fields, filters, sort and transformations.
    * `outDir(i)` names spec i's sink directory.
    */
  def pipelines(seed: Long, outDir: Int => String): Seq[PipelineSpec] = {
    val rnd = new Random(seed)
    rnd.shuffle(formats).zipWithIndex.map { case (format, i) =>
      val t = orders
      val fields = t.key +: rnd.shuffle(t.fields).take(3)
      val (numCol, lo, hi) = t.numeric(rnd.nextInt(t.numeric.size))
      // a numeric filter that keeps between half and nine tenths of the rows
      val keepBelow = rnd.nextBoolean()
      val u = 0.1 + 0.4 * rnd.nextDouble()
      val cut = math.round(lo + (hi - lo) * (if (keepBelow) 1 - u else u))
      val op = (if (keepBelow) Seq("<", "<=") else Seq(">", ">="))(rnd.nextInt(2))
      val (strCol, values) = t.strings(rnd.nextInt(t.strings.size))
      val filters = Seq(Filter(numCol, op, cut), Filter(strCol, "!=", values(rnd.nextInt(values.size))))
      val sortCol = fields(rnd.nextInt(fields.size))
      val sort = Seq(Sort(sortCol, rnd.nextBoolean())) ++
        (if (sortCol == t.key) Nil else Seq(Sort.asc(t.key)))
      val strField = t.strings.map(_._1).find(fields.contains).getOrElse(t.key)
      val transformations = rnd.shuffle(Seq(
        Transformation("uppercase", field = strField, to = "t_upper"),
        Transformation("addPrefix", field = t.key, to = "t_tag", prefix = s"s$i-"),
        Transformation("concat", properties = Seq(t.key, strField), glue = "/", to = "t_concat")
      )).take(2)
      val connector = Connector(t.name, fields = fields, filters = filters, sort = sort,
        limit = rowsPerPipeline.toLong, transformations = transformations)
      val options = if (format == "csv" || format == "json") textOptions else Map.empty[String, String]
      PipelineSpec(Some(connector), Some(SinkSpec(format, outDir(i),
        itemsPerBatch = 200 + 100 * rnd.nextInt(8), options = options)))
    }
  }

  /** Upsert sync batches: overlapping o_orderkey ranges of `orders`, each a
    * quarter of the key space at a seeded offset, tagged with its batch
    * number as the version column.
    */
  final case class UpsertBatch(version: Int, lo: Long, hi: Long)

  def upserts(seed: Long, n: Int = 2, keys: Long = 150000L): Seq[UpsertBatch] = {
    val rnd = new Random(seed ^ 0x5eedL)
    (1 to n).map { v =>
      val width = keys / 4
      val lo = (rnd.nextDouble() * (keys - width)).toLong
      UpsertBatch(v, lo, lo + width)
    }
  }
}
