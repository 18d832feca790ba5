package graft.sources.cdc

import graft.operators.ChunkSplitter
import graft.operators.ChunkSplitter.{Config, KeyOps, KeyRange}
import org.scalatest.funsuite.AnyFunSuite

/** 1:1 transcription of the reference's split-boundary expectations over the
  * `customer` fixture database (`flink-connector-mysql-cdc/src/test/.../
  * source/assigners/MySqlSnapshotSplitAssignerTest.java` and
  * `MySqlChunkSplitterTest.java`; fixture data
  * `src/test/resources/ddl/customer.sql`). The reference runs these against a
  * MySQL Testcontainer, but every expected split list is a pure function of
  * one table's key values: here they run through the engine's own splitter,
  * `ChunkSplitter.generateSplitsOf` with its in-memory `seqProbe`, whose
  * `LongOps` instance plans the snapshot chunks of `GraftCdcSource`. The
  * Int, Decimal and String key cases keep the reference's key-type coverage
  * on that core. The reference's assigner-model cases (multi-table order,
  * newly-added tables, the hybrid and log-only assigners, split state) have
  * no counterpart here: the engine's split plan and its checkpoint are the
  * micro-batch stream's, pinned by `GraftCdcSourceSpec`.
  */
class SplitAssignerRefSpec extends AnyFunSuite {

  // ---- the customer.sql fixture (chunk-key columns only, per-row) ----------

  private final case class TableFixture(
      name: String,
      primaryKeys: Seq[String],
      rows: Seq[Map[String, Any]])

  private def intRows(col: String, vs: Seq[Int]): Seq[Map[String, Any]] =
    vs.map(v => Map(col -> (v: Any)))

  private val customersIds =
    Seq(101, 102, 103, 109, 110, 111, 118, 121, 123, 1009, 1010, 1011, 1012,
      1013, 1014, 1015, 1016, 1017, 1018, 1019, 2000)
  private val customers = TableFixture(
    "customers", Seq("id"),
    customersIds.zipWithIndex.map { case (id, i) =>
      Map[String, Any]("id" -> id, "name" -> s"user_${i + 1}")
    })

  private val customersEvenDist =
    TableFixture("customers_even_dist", Seq("id"), intRows("id", 101 to 110))

  private val customersSparseDist = TableFixture(
    "customers_sparse_dist", Seq("id"), intRows("id", Seq(2, 4, 6, 8, 10, 16, 17, 18, 20, 22)))

  private val customersDenseDist = TableFixture(
    "customers_dense_dist", Seq("id1", "id2"), intRows("id1", Seq(1, 1, 1, 1, 2, 2, 2, 3, 3, 3)))

  private val customersNoPk =
    TableFixture("customers_no_pk", Seq.empty, intRows("id", customersIds))

  private val customerCardNos =
    Seq(20001L, 20002L, 20003L, 20004L, 20004L, 20004L, 20004L, 30006L,
      30007L, 30008L, 30009L, 30009L, 30009L, 40001L, 40002L, 40003L,
      50001L, 50002L, 50003L)
  private val customerCard = TableFixture(
    "customer_card", Seq("card_no", "level"),
    customerCardNos.map(v => Map[String, Any]("card_no" -> v)))

  private val customerCardSingleLine = TableFixture(
    "customer_card_single_line", Seq("card_no", "level"), Seq(Map[String, Any]("card_no" -> 20001L)))

  private val shoppingCart = TableFixture(
    "shopping_cart", Seq("user_id", "product_no", "product_kind"),
    Seq(
      (101, "KIND_001", "user_1"), (101, "KIND_002", "user_1"),
      (102, "KIND_007", "user_1"), (102, "KIND_008", "user_1"),
      (501, "KIND_100", "user_2"), (701, "KIND_999", "user_3"),
      (801, "KIND_010", "user_4"), (600, "KIND_009", "user_4"),
      (401, "KIND_002", "user_5"), (401, "KIND_007", "user_5"),
      (404, "KIND_008", "user_5"), (600, "KIND_009", "user_6")
    ).map { case (no, kind, uid) =>
      Map[String, Any]("product_no" -> no, "product_kind" -> kind, "user_id" -> uid)
    })

  private val evenlyShoppingCart = TableFixture(
    "evenly_shopping_cart", Seq("product_kind", "product_no", "user_id"),
    intRows("product_no", Seq(101, 102, 103, 104, 105, 105, 107, 108, 109, 111, 111, 112)))

  private val shoppingCartBig = TableFixture(
    "shopping_cart_big", Seq("product_no"),
    Seq(1L, 2L, 3L).map(v => Map[String, Any]("product_no" -> v)))

  private val shoppingCartDec = TableFixture(
    "shopping_cart_dec", Seq("product_no"),
    Seq("123456.1230", "123457.4560", "123458.6789", "123459.1234")
      .map(v => Map[String, Any]("product_no" -> BigDecimal(v))))

  private val address = TableFixture(
    "address", Seq("id"),
    Seq(416874195632735147L, 416927583791428523L, 417022095255614379L,
      417111867899200427L, 417271541558096811L, 417272886855938987L,
      417420106184475563L, 418161258277847979L)
      .map(v => Map[String, Any]("id" -> v)))

  private val allFixtures = Seq(
    customers, customersEvenDist, customersSparseDist, customersDenseDist,
    customersNoPk, customerCard, customerCardSingleLine, shoppingCart,
    evenlyShoppingCart, shoppingCartBig, shoppingCartDec, address)

  // ---- the reference test harness shape ------------------------------------

  private def split[K](keys: Seq[K], config: Config)(implicit ops: KeyOps[K]): Seq[KeyRange[K]] = {
    val sorted = keys.sorted(ops)
    ChunkSplitter.generateSplitsOf(
      sorted.headOption, sorted.lastOption, keys.size.toLong, config, ChunkSplitter.seqProbe(sorted))
  }

  /** `getTestAssignSnapshotSplits` for one table, rendered the test's way:
    * `table Arrays.toString(start) Arrays.toString(end)`. The chunk key is
    * the configured column, else the first primary-key column.
    */
  private def splits(
      splitSize: Int,
      factorUpper: Double,
      factorLower: Double,
      table: String,
      chunkKeyColumn: Option[String] = None,
      assignUnboundedChunkFirst: Boolean = false): Seq[String] = {
    val fixture = allFixtures.find(_.name == table).get
    val keys = fixture.rows.map(_(chunkKeyColumn.getOrElse(fixture.primaryKeys.head)))
    val config = Config(splitSize, factorUpper, factorLower, assignUnboundedChunkFirst)
    val ranges: Seq[KeyRange[_]] = keys.head match {
      case _: Int => split(keys.map(_.asInstanceOf[Int]), config)
      case _: Long => split(keys.map(_.asInstanceOf[Long]), config)
      case _: BigDecimal => split(keys.map(_.asInstanceOf[BigDecimal]), config)
      case _: String => split(keys.map(_.asInstanceOf[String]), config)
    }
    def side(v: Option[Any]): String = v.fold("null")(k => s"[$k]")
    ranges.map(r => s"$table ${side(r.start)} ${side(r.end)}")
  }

  private val DefaultUpper = 1000.0d
  private val DefaultLower = 0.05d

  // ---- MySqlSnapshotSplitAssignerTest, method by method --------------------

  // testAssignSingleTableSplits:67
  test("assign single table splits") {
    assert(splits(4, DefaultUpper, DefaultLower, "customers_even_dist") == Seq(
      "customers_even_dist null [105]",
      "customers_even_dist [105] [109]",
      "customers_even_dist [109] null"))
  }

  // testAssignTableWhoseRowCntLessSplitSize:83
  test("table whose row count is less than split size: one full chunk") {
    assert(splits(2000, DefaultUpper, DefaultLower, "customers") ==
      Seq("customers null null"))
  }

  // testAssignCompositePkTableSplitsUnevenlyWithChunkKeyColumn:114
  test("composite-PK table splits unevenly on a configured chunk key column") {
    assert(splits(4, DefaultUpper, DefaultLower, "shopping_cart",
      chunkKeyColumn = Some("product_kind")) == Seq(
      "shopping_cart null [KIND_007]",
      "shopping_cart [KIND_007] [KIND_008]",
      "shopping_cart [KIND_008] [KIND_009]",
      "shopping_cart [KIND_009] [KIND_100]",
      "shopping_cart [KIND_100] null"))
  }

  // testAssignCompositePkTableSplitsEvenlyWithChunkKeyColumn:134
  test("composite-PK table splits evenly on a numeric chunk key column") {
    assert(splits(4, DefaultUpper, DefaultLower, "evenly_shopping_cart",
      chunkKeyColumn = Some("product_no")) == Seq(
      "evenly_shopping_cart null [105]",
      "evenly_shopping_cart [105] [109]",
      "evenly_shopping_cart [109] null"))
  }

  // testEnableAutoIncrementedKeyOptimization:169
  test("auto-incremented key: dense keys split arithmetically") {
    assert(splits(2, DefaultUpper, DefaultLower, "shopping_cart_big") == Seq(
      "shopping_cart_big null [3]",
      "shopping_cart_big [3] null"))
  }

  // testAssignSnapshotSplitsWithRandomPrimaryKey:182
  test("snowflake (random) primary keys go through the uneven path") {
    assert(splits(4, DefaultUpper, DefaultLower, "address") == Seq(
      "address null [417111867899200427]",
      "address [417111867899200427] [417420106184475563]",
      "address [417420106184475563] null"))
  }

  // testAssignSnapshotSplitsWithDecimalKey:198
  test("decimal primary keys split arithmetically at the declared scale") {
    assert(splits(2, DefaultUpper, DefaultLower, "shopping_cart_dec") == Seq(
      "shopping_cart_dec null [123458.1230]",
      "shopping_cart_dec [123458.1230] null"))
  }

  // testAssignTableWithMultipleKey:213 — duplicate leading-PK values count
  // against the chunk budget (the reference's INCLUSIVE lower-bound probe)
  test("duplicate leading-PK keys: boundaries advance by the inclusive probe") {
    assert(splits(4, DefaultUpper, DefaultLower, "customer_card") == Seq(
      "customer_card null [20004]",
      "customer_card [20004] [30006]",
      "customer_card [30006] [30009]",
      "customer_card [30009] [40001]",
      "customer_card [40001] [50001]",
      "customer_card [50001] null"))
  }

  // testAssignTableWithSparseDistributionSplitKey:232
  test("sparse distribution: factor bounds pick the path") {
    // bigger distribution factor upper: still even, dynamic chunk size scales
    assert(splits(4, 2000.0d, DefaultLower, "customers_sparse_dist") == Seq(
      "customers_sparse_dist null [10]",
      "customers_sparse_dist [10] [18]",
      "customers_sparse_dist [18] null"))
    // smaller upper bound: factor 2.1 > 2.0 → uneven probing
    assert(splits(4, 2.0d, DefaultLower, "customers_sparse_dist") == Seq(
      "customers_sparse_dist null [8]",
      "customers_sparse_dist [8] [17]",
      "customers_sparse_dist [17] null"))
    // approximate row count bigger than chunk size
    assert(splits(8, 10d, DefaultLower, "customers_sparse_dist") == Seq(
      "customers_sparse_dist null [18]",
      "customers_sparse_dist [18] null"))
  }

  // testAssignTableWithDenseDistributionSplitKey:275
  test("dense distribution: factor lower bound picks the path") {
    assert(splits(2, DefaultUpper, DefaultLower, "customers_dense_dist") == Seq(
      "customers_dense_dist null [2]",
      "customers_dense_dist [2] [3]",
      "customers_dense_dist [3] null"))
    // bigger lower bound: factor 0.3 < 0.9 → uneven, stalled boundaries fall
    // forward through queryMin
    assert(splits(2, DefaultUpper, 0.9d, "customers_dense_dist") == Seq(
      "customers_dense_dist null [2]",
      "customers_dense_dist [2] null"))
  }

  // testAssignTableWithSingleLine:303
  test("single-row table: one full chunk") {
    assert(splits(4, DefaultUpper, DefaultLower, "customer_card_single_line") ==
      Seq("customer_card_single_line null null"))
  }

  // testAssignTableWithCombinedIntSplitKey:315 +
  // testAssignTableWithConfiguredStringSplitKey:332 (same expectation)
  test("string leading-PK key: uneven probing over user ids") {
    val expected = Seq(
      "shopping_cart null [user_2]",
      "shopping_cart [user_2] [user_4]",
      "shopping_cart [user_4] [user_5]",
      "shopping_cart [user_5] null")
    assert(splits(4, DefaultUpper, DefaultLower, "shopping_cart") == expected)
    assert(splits(4, DefaultUpper, DefaultLower, "shopping_cart",
      chunkKeyColumn = Some("user_id")) == expected)
  }

  // testAssignMinSplitSize:349
  test("minimum split size: chunk per two keys") {
    assert(splits(2, DefaultUpper, DefaultLower, "customers_even_dist") == Seq(
      "customers_even_dist null [103]",
      "customers_even_dist [103] [105]",
      "customers_even_dist [105] [107]",
      "customers_even_dist [107] [109]",
      "customers_even_dist [109] null"))
  }

  // testAssignMaxSplitSize:367
  test("maximum split size: one full chunk") {
    assert(splits(8096, DefaultUpper, DefaultLower, "customers_even_dist") ==
      Seq("customers_even_dist null null"))
  }

  // testUnMatchedPrimaryKey:379 — the reference's try/catch only asserts IF
  // the connector throws (the Flink-DDL-vs-MySQL PK validation lives in the
  // table factory, not the assigner); the splitter splits
  // customer_card by its leading PK column — pinned above. Documented n/a.

  // testAssignTableWithoutPrimaryKeyWithChunkKeyColumn:410
  test("PK-less table with a configured chunk key column splits evenly") {
    assert(splits(4, DefaultUpper, DefaultLower, "customers_no_pk",
      chunkKeyColumn = Some("id")) == Seq(
      "customers_no_pk null [462]",
      "customers_no_pk [462] [823]",
      "customers_no_pk [823] [1184]",
      "customers_no_pk [1184] [1545]",
      "customers_no_pk [1545] [1906]",
      "customers_no_pk [1906] null"))
  }

  // testAssignTableWithPrimaryKeyWithChunkKeyColumnNotInPrimaryKey:432
  test("chunk key column outside the primary key: uneven over names") {
    assert(splits(4, DefaultUpper, DefaultLower, "customers",
      chunkKeyColumn = Some("name")) == Seq(
      "customers null [user_12]",
      "customers [user_12] [user_15]",
      "customers [user_15] [user_18]",
      "customers [user_18] [user_20]",
      "customers [user_20] [user_4]",
      "customers [user_4] [user_7]",
      "customers [user_7] null"))
  }

  // testSplitEvenlySizedChunksEndingFirst:511
  test("unbounded chunk assigned first when configured") {
    assert(splits(4, DefaultUpper, DefaultLower, "evenly_shopping_cart",
      chunkKeyColumn = Some("product_no"), assignUnboundedChunkFirst = true) == Seq(
      "evenly_shopping_cart [109] null",
      "evenly_shopping_cart null [105]",
      "evenly_shopping_cart [105] [109]"))
  }

  // ---- MySqlChunkSplitterTest ----------------------------------------------

  // testSplitEvenlySizedChunksOverflow:35
  test("even split stops at key-type overflow") {
    val res = ChunkSplitter.splitEvenlySizedChunksOf[Int](
      Int.MaxValue - 19, Int.MaxValue, 20, 10, 10)
    assert(res == Seq(
      ChunkSplitter.KeyRange(None, Some(2147483638)),
      ChunkSplitter.KeyRange(Some(2147483638), None)))
  }

  // testSplitEvenlySizedChunksNormal:60
  test("even split touches the max key before the unbounded tail") {
    val res = ChunkSplitter.splitEvenlySizedChunksOf[Int](
      Int.MaxValue - 20, Int.MaxValue, 20, 10, 10)
    assert(res == Seq(
      ChunkSplitter.KeyRange(None, Some(2147483637)),
      ChunkSplitter.KeyRange(Some(2147483637), Some(2147483647)),
      ChunkSplitter.KeyRange(Some(2147483647), None)))
  }
}
