package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.warehouse.{Check, Invariants, Warehouse}

/** Capstone end to end: the paper's warehouse chain runs its backfill
  * and every one-day delta of the checked-in source fixture
  * (`src/test/resources/warehouse`, `perfbench/gen.py` seed 7: one year
  * × 12 contract months, 6 deltas of kinds trading, holiday, null) into
  * a fresh root, then each of the paper's invariants (SURVEY §5) is
  * recomputed from what the chain wrote. The stage mechanics are proven
  * on synthesized tables in StgPipelineSpec. */
class CapstoneSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Harness.session(4)
  private val source = new java.io.File(getClass.getResource("/warehouse").toURI).getPath
  private val root = java.nio.file.Files.createTempDirectory("graft_capstone").toString

  /** The chain, run once; the store check after every load. */
  private lazy val (w, m, storeAfterEachLoad) = {
    val w = new Warehouse(spark, root)
    val m = w.backfill(source)
    val states = Invariants.storeState(spark, w, m.barchart) +:
      m.deltas.map { d => w.dailyLoad(d); Invariants.storeState(spark, w, d) }
    (w, m, states)
  }

  override def afterAll(): Unit =
    new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively(): Unit

  private def holds(c: Check): Unit = assert(c.ok, s"${c.name}: ${c.detail}")

  test("E1: the staged store holds the manifest's rows and last ticks after every load") {
    assert(storeAfterEachLoad.size === 7)
    storeAfterEachLoad.foreach(holds)
  }

  test("E1: upserting the last batch again leaves the store unchanged") {
    holds(Invariants.idempotent(spark, w, m.deltas.last))
  }

  test("E1: one audit row per load, with the reconciled counts") {
    holds(Invariants.audit(spark, w, m.audits(m.deltas.size)))
  }

  test("E2: MA-50/MA-200 are 51-row and 201-row frames of the fact") {
    holds(Invariants.movingAverages(w))
  }

  test("E3: spread = price(mo=3) - price(mo=2) on every extract date") {
    holds(Invariants.spread(spark, w))
  }

  test("E3: COT Net = Long + Short, and the unpivot round-trips") {
    holds(Invariants.cot(spark, w))
  }
}
