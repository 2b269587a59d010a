package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Regression guard for the events-table timestamp contract.
  *
  * Round 6 shipped broken because the testdata's `ts` column changed parquet
  * precision (NANOS → MICROS) and twelve downstream queries assumed the old
  * raw-long representation. The contract now lives in ONE place —
  * Tables.canonicalizeEventTs — and this spec pins it: whatever the parquet
  * carries, `Tables.events` exposes `ts` as canonical epoch-µs BIGINT. A
  * future precision change in the testdata fails HERE, with a named
  * assertion, instead of as twelve downstream analysis errors.
  */
class TablesSpec extends SparkSpec {

  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

  test("events.ts loads as canonical epoch-µs BIGINT from every sf dir") {
    for (dir <- sfDirs) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == LongType,
        s"$dir: ts must canonicalize to BIGINT (epoch-µs), got ${ev.schema("ts").dataType}")
    }
  }

  test("canonical ts values are plausible epoch-µs instants") {
    // The synthetic corpus is dated 2024; epoch-µs for 2024 is ~1.7e15.
    // A ns-read-as-µs mistake lands at ~1.7e18, a ms one at ~1.7e12, and a
    // 1000×-compressed stream lands in 1970 — all three fail this window.
    val bounds = Tables.events(spark, sfDirs.head)
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val us2020 = 1577836800000000L // 2020-01-01
    val us2030 = 1893456000000000L // 2030-01-01
    assert(lo >= us2020 && hi < us2030,
      s"ts range [$lo, $hi] is not epoch-µs for a 2024 corpus — precision drift")
  }

  test("every table loads with the schema the engine was built against") {
    // The generalization of the events.ts lesson: any driver-side testdata
    // layout drift should fail HERE with a named per-table diff, not as
    // scattered downstream analysis errors. Timestamp-typed columns may
    // arrive as TIMESTAMP or TIMESTAMP_NTZ (parquet isAdjustedToUTC flips
    // have happened); both normalize identically under the UTC sessions all
    // correctness-gated mains pin, so the assertion accepts either.
    val expected = Map(
      "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
      "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string", "n_regionkey" -> "int"),
      "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
        "c_nationkey" -> "int", "c_acctbal" -> "double", "c_mktsegment" -> "string"),
      "supplier" -> Seq("s_suppkey" -> "bigint", "s_name" -> "string",
        "s_nationkey" -> "int", "s_acctbal" -> "double"),
      "part" -> Seq("p_partkey" -> "bigint", "p_name" -> "string", "p_brand" -> "string",
        "p_type" -> "string", "p_size" -> "int", "p_retailprice" -> "double"),
      "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
        "o_orderstatus" -> "string", "o_totalprice" -> "double",
        "o_orderdate" -> "timestamp*", "o_orderpriority" -> "string"),
      "lineitem" -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
        "l_suppkey" -> "bigint", "l_linenumber" -> "int", "l_quantity" -> "double",
        "l_extendedprice" -> "double", "l_discount" -> "double", "l_tax" -> "double",
        "l_returnflag" -> "string", "l_linestatus" -> "string", "l_shipdate" -> "timestamp*"),
      "events" -> Seq("event_id" -> "bigint", "ts" -> "bigint" /* canonicalized */,
        "user_id" -> "bigint", "event_type" -> "string", "value" -> "double",
        "props" -> "string"),
      "documents" -> Seq("doc_id" -> "bigint", "text" -> "string", "lang" -> "string",
        "source" -> "string", "n_chars" -> "bigint"),
      "embeddings" -> Seq("vec_id" -> "bigint", "embedding" -> "array<float>",
        "label" -> "int"))
    for ((name, cols) <- expected) {
      val got = Tables.table(spark, sfDirs.head, name).schema
        .map(f => f.name -> f.dataType.simpleString)
      val ok = got.size == cols.size && got.zip(cols).forall {
        case ((gn, gt), (en, et)) =>
          gn == en && (if (et == "timestamp*") gt.startsWith("timestamp") else gt == et)
      }
      assert(ok, s"$name schema drifted: got $got, expected $cols")
    }
  }

  test("canonicalizeEventTs handles each source representation identically") {
    import spark.implicits._
    val us = 1704326400123456L
    // TIMESTAMP_NTZ source (what current MICROS testdata loads as, tz=UTC)
    val ntz = Seq(1).toDF("i")
      .select(timestamp_micros(lit(us)).cast(TimestampNTZType).as("ts"))
    // TIMESTAMP source
    val tz = Seq(1).toDF("i").select(timestamp_micros(lit(us)).as("ts"))
    // legacy NANOS-as-long source
    val ns = Seq(us * 1000).toDF("ts")
    for (df <- Seq(ntz, tz, ns)) {
      val got = Tables.canonicalizeEventTs(df).select("ts").as[Long].head()
      assert(got == us, s"canonicalized $got != $us for source type ${df.schema("ts").dataType}")
    }
  }

  test("a real TIMESTAMP(NANOS) events parquet loads through Tables.events in the shared session") {
    // events_nanos/events.parquet: three rows whose ts is parquet
    // TIMESTAMP(NANOS) with sub-µs digits, the legacy layout the session's
    // nanos-as-long policy and the LongType canonicalizer branch exist for
    import spark.implicits._
    val dir = new java.io.File(getClass.getResource("/events_nanos/events.parquet").toURI).getParent
    // the raw read takes the legacy branch: NANOS arrives as a long, not a timestamp
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType == LongType)
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == LongType)
    val got = ev.orderBy("event_id").select("ts").as[Long].collect().toSeq
    assert(got == Seq(1704326400123456L, 1704330000000000L, 1704412800999999L))
  }
}
