package perfbench

import java.nio.file.{Files, Paths}
import graft.sources.{SpecLoader, TableSpec, TallyHttp, TallyXml}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The fake Tally serves what the company holds: every table the
  * benchmark's spec extracts, rewritten and parsed by the loader's own
  * `TallyXml.xmlToTsv` and `tsvToDataFrame`, equals the generator's
  * typed truth, special forms included. */
class FakeTallySpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").appName("perfbench-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val specs: Seq[TableSpec] = {
    val (m, t) = SpecLoader.load(new String(
      Files.readAllBytes(Paths.get("tally-bench.yaml")), "UTF-8"))
    m ++ t
  }
  private def spec(t: String) = specs.find(_.name == t).get

  private val company = new Company(seed = 7L, scale = 0.2)
  company.render()
  private val fake = new FakeTally(company)

  override def afterAll(): Unit = fake.close()

  private def request(s: TableSpec): String = TallyXml.substituteParams(
    TallyXml.generateTdl(s), "20200401", "20210331")

  private def loaded(s: TableSpec, response: String): Seq[Seq[Any]] =
    TallyXml.tsvToDataFrame(spark, TallyXml.xmlToTsv(response), s)
      .collect().toSeq.map(_.toSeq)

  private def truth(t: String): Seq[Seq[Any]] =
    company.truth(t).map(m => spec(t).fields.map(f => m(f.name))).toSeq

  private def sorted(rows: Seq[Seq[Any]]) = rows.sortBy(_.mkString("\u0001"))

  test("the spec covers the nine report tables") {
    assert(specs.map(_.name).toSet == Company.Tables.toSet)
  }

  test("every table round-trips through the loader's rewrite and parse") {
    Company.Tables.foreach { t =>
      val want = truth(t)
      assert(want.nonEmpty, s"$t is empty")
      assert(sorted(loaded(spec(t), fake.respond(request(spec(t))))) ==
        sorted(want), s"$t differs from the truth")
    }
  }

  test("responses carry Tally's emitted forms") {
    val vouchers = fake.respond(request(spec("trn_voucher")))
    val legs = fake.respond(request(spec("trn_accounting")))
    val inventory = fake.respond(request(spec("trn_inventory")))
    Seq("&amp;", "&lt;", "&quot;", "&apos;", "&#4;", "&#13;&#10;", "&tab;",
      "\t", "  \r\n", Company.NullDate).foreach(f =>
      assert(vouchers.contains(f), s"no voucher carries ${f.toSeq}"))
    assert(legs.contains(">(-)") && legs.contains(">-"))
    assert(inventory.contains("/Nos<") && inventory.contains(">(-)"))
    assert(legs.contains("<FLDBLANK></FLDBLANK>"))
    // and the loader turns them into the truth's plain values
    val narr = truth("trn_voucher").map(_(spec("trn_voucher").fields
      .indexWhere(_.name == "narration")).toString)
    assert(narr.exists(_.startsWith("R&D <")))
    assert(!narr.exists(n => n.contains("\r") || n.contains("\t")))
  }

  test("the HTTP transport in UTF-16LE returns what respond renders") {
    val http = new TallyHttp("127.0.0.1", fake.port)
    Seq("trn_voucher", "mst_group").foreach { t =>
      assert(http.post(request(spec(t))) == fake.respond(request(spec(t))))
    }
    assert(http.post(TallyXml.alterIdProbeTdl(None)) ==
      s""""${company.masterAlterId}","${company.txnAlterId}"""" + "\r\n")
  }

  test("change batches: AlterID filter, renumber re-pull and truth agree") {
    val c = new Company(seed = 11L, scale = 0.05)
    c.render()
    val f = new FakeTally(c)
    try {
      val floor = c.txnAlterId
      val b = c.synchronized { val b = c.applyBatch(0); c.render(); b }
      assert(!b.masterChanged && b.transactionChanged && b.renumbered)
      val v = spec("trn_voucher")
      val since = v.copy(filters = Seq(s"$$AlterID > $floor"))
      val fresh = loaded(since, f.respond(request(since)))
      assert(fresh.size == b.appended("trn_voucher"))
      val legs = spec("trn_accounting")
        .copy(filters = Seq(s"$$AlterID > $floor"))
      assert(loaded(legs, f.respond(request(legs))).size ==
        b.appended("trn_accounting"))
      // the renumber re-pull returns exactly the auto-numbered vouchers
      val auto = v.copy(filters = Seq(
        "$$IsEqual:($NumberingMethod:VoucherType:$VoucherTypeName):\"Automatic\""))
      assert(f.respond(request(auto)).split("<F01>").length - 1 ==
        c.vouchers.valuesIterator.count(_.vtype.automatic))
      Company.Tables.foreach { t =>
        val want = c.truth(t).map(m => spec(t).fields.map(x => m(x.name))).toSeq
        assert(sorted(loaded(spec(t), f.respond(request(spec(t))))) ==
          sorted(want), s"$t differs after the batch")
      }
      assert(c.applyBatch(1).idle)
    } finally f.close()
  }
}
