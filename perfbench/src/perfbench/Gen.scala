package perfbench

import graft.core._
import org.apache.spark.sql.types._

/** Seeded inputs for the two CDC workloads, each with a plain-Scala oracle.
  *
  * The generators depend only on the seed: the engine receives the rows and
  * events they produce and nothing else. The oracles restate, without Spark,
  * what the table must hold after the engine has applied those inputs, and
  * [[Digest]] compares the two order-independently.
  */
object Gen {

  /** Order-independent checksum of a row set: the row count plus the
    * wrapping sum of one 64-bit hash per row. Rows are sequences of column
    * values in a fixed column order; see [[canon]] for how a value is
    * rendered before hashing. */
  final case class Digest(rows: Long, sum: Long) {
    def +(row: Seq[Any]): Digest = Digest(rows + 1, sum + rowHash(row))
  }
  object Digest {
    val empty: Digest = Digest(0L, 0L)
    def of(rows: Iterator[Seq[Any]]): Digest = rows.foldLeft(empty)(_ + _)
  }

  /** Value rendering shared by the oracle and the checker: numbers of any
    * width render by value (an INT 5 and a BIGINT 5 agree), doubles by
    * their exact shortest round-trip text, null as a marker no string
    * value of these workloads contains. */
  def canon(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => java.lang.Double.toString(d)
    case other => other.toString
  }

  def rowHash(row: Seq[Any]): Long = {
    val s = row.iterator.map(canon).mkString("\u0001")
    val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x2545F491)
    val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0x9E3779B9)
    (hi.toLong << 32) | (lo.toLong & 0xFFFFFFFFL)
  }

  private val letters = "abcdefghijklmnopqrstuvwxyz"
  private def word(rng: scala.util.Random, lo: Int, hi: Int): String =
    Iterator.fill(lo + rng.nextInt(hi - lo + 1))(letters(rng.nextInt(26))).mkString

  // ---------------------------------------------------------------- snapshot_load

  val SnapTable: TableId = TableId.of("app", "orders")

  val snapSchema: TableSchema = TableSchema(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("qty", IntegerType),
      StructField("price", DoubleType),
      StructField("cat", StringType),
      StructField("ts", LongType))),
    primaryKeys = Seq("id"))

  private val cats = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")

  /** `n` snapshot rows keyed `0, 4, 8, ...`: the keys, and so the chunk
    * boundaries and micro-batches, are the same for every seed; the other
    * columns are seeded. */
  def snapshotRows(seed: Long, n: Int): IndexedSeq[Map[String, Any]] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { i =>
      Map[String, Any](
        "id" -> i.toLong * 4,
        "name" -> word(rng, 6, 12),
        "qty" -> (1 + rng.nextInt(50)),
        "price" -> rng.nextInt(100000) / 100.0,
        "cat" -> cats(rng.nextInt(cats.size)),
        "ts" -> (1700000000000L + rng.nextInt(1000000000)))
    }
  }

  /** The snapshot pipeline's transform (projection + filter) and route. */
  val snapTransformYaml: String =
    """transform:
      |  - source-table: app.orders
      |    projection: "id, UPPER(name) AS name_u, CONCAT(cat, '-', CAST(qty AS STRING)) AS tag, price * qty AS amount, qty * 2 + 1 AS qty2, ts - 1000 AS ts_adj"
      |    filter: "qty > 5"
      |route:
      |  - source-table: app.orders
      |    sink-table: app.orders_out
      |""".stripMargin

  val snapOutColumns: Seq[String] = Seq("id", "name_u", "tag", "amount", "qty2", "ts_adj")

  /** The same transform in plain Scala: None when the filter drops the row. */
  def snapTransform(r: Map[String, Any]): Option[Seq[Any]] = {
    val qty = r("qty").asInstanceOf[Int]
    if (qty <= 5) None
    else Some(Seq(
      r("id"),
      r("name").asInstanceOf[String].toUpperCase(java.util.Locale.ROOT),
      s"${r("cat")}-$qty",
      r("price").asInstanceOf[Double] * qty,
      qty * 2 + 1,
      r("ts").asInstanceOf[Long] - 1000L))
  }

  /** The sink table the snapshot pipeline must leave: transformed rows by id. */
  def snapshotOut(rows: Seq[Map[String, Any]]): Map[Long, Seq[Any]] =
    rows.iterator.flatMap(snapTransform).map(r => r.head.asInstanceOf[Long] -> r).toMap

  // ---------------------------------------------------------------- change_replay

  val ChangeTable: TableId = TableId.of("app", "accounts")

  val changeSchema: TableSchema = TableSchema(
    StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("a", LongType),
      StructField("b", StringType),
      StructField("c", DoubleType),
      StructField("d", IntegerType))),
    primaryKeys = Seq("k"))

  sealed trait Step
  final case class Data(event: DataChangeEvent) extends Step
  /** `ALTER TABLE ... ADD COLUMN <column> BIGINT`. */
  final case class AddColumn(column: String) extends Step {
    def sql: String = s"ALTER TABLE ${ChangeTable.identifier} ADD COLUMN $column BIGINT"
  }

  type State = Map[Long, Map[String, Any]]

  /** One round of change_replay: a backlog segment drained at once, then
    * small transactions drained one by one.
    *
    * @param segment       skewed data events with one ADD COLUMN in the middle
    * @param txns          small transactions, no DDL
    * @param afterSegment  live rows once the segment is applied
    * @param afterRound    live rows once the whole round is applied
    * @param columns       column order once the round's DDL has applied
    *                      (initial columns, then the added ones)
    */
  final case class Round(
      segment: IndexedSeq[Step],
      txns: IndexedSeq[IndexedSeq[Step]],
      afterSegment: State,
      afterRound: State,
      columns: Seq[String]) {
    def events: Int = segment.count(_.isInstanceOf[Data])
  }

  /** One change_replay input set and the oracle states it must produce.
    *
    * @param initial  rows of the (untimed) initial snapshot
    * @param warm     a small transaction drained (untimed) before the rounds
    * @param rounds   the rounds, in the order they apply; the run leaves the
    *                 first untimed and times the others
    */
  final case class ChangeScript(
      initial: IndexedSeq[Map[String, Any]],
      warm: IndexedSeq[Step],
      rounds: IndexedSeq[Round]) {
    def backlog: IndexedSeq[Step] = rounds.flatMap(_.segment)
    def finalRows: State = rounds.last.afterRound
    def columns: Seq[String] = rounds.last.columns
    def finalDigest: Digest = digestOf(finalRows, columns)
  }

  def digestOf(state: State, cols: Seq[String]): Digest =
    Digest.of(state.valuesIterator.map(r => cols.map(r.getOrElse(_, null))))

  /** Zipf(s) sampler over ranks `[0, n)` by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(rng: scala.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Build a change_replay script of one warm-up transaction and `rounds`
    * rounds, each a segment of `segmentEvents` data events with one
    * ADD COLUMN after the first half, then `txnsPerRound` transactions of
    * `txnSize` data events.
    *
    * Updates pick live keys by a Zipf(1.1) rank, so a few keys take most
    * updates and upsert has events to collapse; deletes pick a live key
    * uniformly, which keeps the hot set stable. Every ten data events hold
    * seven updates, two inserts and one delete, and every row written after
    * an ADD COLUMN carries a value for each column added so far, so every
    * round does the same work whatever the seed.
    */
  def changeScript(
      seed: Long,
      initialRows: Int,
      rounds: Int,
      segmentEvents: Int,
      txnsPerRound: Int,
      txnSize: Int): ChangeScript = {
    val rng = new scala.util.Random(seed ^ 0x5DEECE66DL)
    val state = scala.collection.mutable.LinkedHashMap.empty[Long, Map[String, Any]]
    // live keys by insertion slot: Zipf ranks index into this array, deletes
    // swap-remove so ranks keep pointing at live keys
    val keys = scala.collection.mutable.ArrayBuffer.empty[Long]
    var nextKey = 0L
    var added = Vector.empty[String]
    def freshRow(k: Long): Map[String, Any] =
      Map[String, Any](
        "k" -> k,
        "a" -> rng.nextInt(1000000).toLong,
        "b" -> word(rng, 4, 10),
        "c" -> rng.nextInt(1000000) / 100.0,
        "d" -> rng.nextInt(1000)) ++ added.map(_ -> rng.nextInt(1000000).toLong)
    def insert(): DataChangeEvent = {
      val k = nextKey; nextKey += 1 + rng.nextInt(3)
      val row = freshRow(k)
      state(k) = row; keys += k
      DataChangeEvent.insert(ChangeTable, row)
    }
    val initial = (0 until initialRows).map { _ => insert().after }
    val zipf = new Zipf(math.max(1, initialRows), 1.1)
    def liveIndex(): Int = math.min(keys.size - 1, zipf.sample(rng))
    def update(): DataChangeEvent = {
      val k = keys(liveIndex())
      val before = state(k)
      val after = before ++ Map[String, Any](
        "a" -> rng.nextInt(1000000).toLong, "c" -> rng.nextInt(1000000) / 100.0) ++
        added.map(_ -> rng.nextInt(1000000).toLong)
      state(k) = after
      DataChangeEvent.update(ChangeTable, before, after)
    }
    def delete(): DataChangeEvent = {
      val i = rng.nextInt(keys.size)
      val k = keys(i)
      keys(i) = keys.last; keys.remove(keys.size - 1)
      DataChangeEvent.delete(ChangeTable, state.remove(k).get)
    }
    // the op of the i-th data event cycles through a fixed pattern, so every
    // seed applies the same number of each op
    var step = 0
    def dataStep(): Step = {
      val p = step % 10
      step += 1
      Data(if (p < 7 || keys.size < 2) { if (keys.isEmpty) insert() else update() }
        else if (p < 9) insert() else delete())
    }
    def txn(): IndexedSeq[Step] = (0 until txnSize).map(_ => dataStep())
    val warm = txn()
    val all = (0 until rounds).map { _ =>
      val segment = (0 until segmentEvents).flatMap { i =>
        val ddl =
          if (i == segmentEvents / 2) {
            added :+= s"x${added.size + 1}"
            Seq(AddColumn(added.last))
          } else Seq.empty
        ddl :+ dataStep()
      }
      val afterSegment = state.toMap
      val txns = (0 until txnsPerRound).map(_ => txn())
      Round(segment, txns, afterSegment, state.toMap,
        changeSchema.struct.fieldNames.toSeq ++ added)
    }
    ChangeScript(initial, warm, all)
  }

  /** Append a script step to the scripted source's log. */
  def feed(src: graft.sources.cdc.ScriptedChangeSource, step: Step): Unit = step match {
    case Data(e) => src.append(e)
    case d: AddColumn =>
      graft.sources.mysql.MySqlDdlParser.parse(d.sql).foreach(src.appendDdl(_))
  }
}
