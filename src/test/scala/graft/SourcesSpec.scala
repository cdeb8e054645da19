package graft

import org.apache.spark.sql.functions._
import graft.sources.Formats

class SourcesSpec extends SparkSpec {

  tempDirTest("csv round-trip preserves the customer table") { newDir =>
    val tmp = newDir("graft_fmt").toString
    val c = Tables.load(spark, sf, "customer")
    Formats.writeCsv(c, s"$tmp/customer_csv")
    val back = Formats.readCsv(spark, s"$tmp/customer_csv", c.schema)
    assert(back.count() == c.count())
    assert(math.abs(back.agg(sum("c_acctbal")).head.getDouble(0) -
      c.agg(sum("c_acctbal")).head.getDouble(0)) <= 1e-4)
  }

  tempDirTest("json round-trip preserves documents") { newDir =>
    val tmp = newDir("graft_fmt").toString
    val d = Tables.load(spark, sf, "documents")
    Formats.writeJson(d, s"$tmp/docs_json")
    val back = Formats.readJson(spark, s"$tmp/docs_json", d.schema)
    assert(back.count() == d.count())
    assert(back.select(min(length(col("text")))).head.getInt(0) ==
      d.select(min(length(col("text")))).head.getInt(0))
  }

  tempDirTest("orc round-trip preserves lineitem exactly") { newDir =>
    val tmp = newDir("graft_fmt").toString
    val l = Tables.load(spark, sf, "lineitem").limit(1000)
    Formats.writeOrc(l, s"$tmp/li_orc")
    val back = Formats.readOrc(spark, s"$tmp/li_orc")
    assert(back.count() == 1000)
    assert(back.schema.map(_.name) == l.schema.map(_.name))
  }

  tempDirTest("partitioned layout prunes partitions at scan time") { newDir =>
    val tmp = newDir("graft_fmt").toString
    val o = Tables.load(spark, sf, "orders")
      .withColumn("o_year", year(col("o_orderdate")))
    o.write.mode("overwrite").partitionBy("o_year")
      .parquet(s"$tmp/orders_part")
    val back = spark.read.parquet(s"$tmp/orders_part")
      .filter(col("o_year") === 1996)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_year"))
    val expected = o.filter(col("o_year") === 1996).count()
    assert(back.count() == expected && expected > 0)
  }

  tempDirTest("schema evolution: mergeSchema unions columns across file " +
      "vintages") { newDir =>
    val tmp = newDir("graft_fmt").toString
    // a 100 TB dataset is written over months; late files gain columns.
    // Readers must see the union schema with nulls for pre-evolution files.
    val v1 = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val v2 = Tables.load(spark, sf, "documents")
      .select(col("doc_id") + 100000, col("text"), col("lang"))
      .toDF("doc_id", "text", "lang")
    v1.write.mode("overwrite").parquet(s"$tmp/docs_evolve/v1")
    v2.write.mode("overwrite").parquet(s"$tmp/docs_evolve/v2")
    val back = spark.read.option("mergeSchema", "true")
      .parquet(s"$tmp/docs_evolve/v1", s"$tmp/docs_evolve/v2")
    assert(back.schema.fieldNames.toSet == Set("doc_id", "text", "lang"))
    assert(back.count() == v1.count() + v2.count())
    // pre-evolution rows read as null for the added column
    assert(back.filter(col("lang").isNull).count() == v1.count())
  }

  test("binaryFile source lands opaque bytes for the multimodal path") {
    // the ingest source a real image/audio corpus uses: every file
    // becomes (path, modificationTime, length, content: binary) — the
    // opaque-bytes column Multimodal.decode consumes. Any file serves to
    // prove the contract; here the fixture parquet files themselves.
    val bin = spark.read.format("binaryFile")
      .load(s"$sf/documents.parquet")
    assert(bin.schema.fieldNames.toSet ==
      Set("path", "modificationTime", "length", "content"))
    val row = bin.head()
    val expected = new java.io.File(s"$sf/documents.parquet").length()
    assert(row.getAs[Long]("length") == expected)
    assert(row.getAs[Array[Byte]]("content").length == expected)
    // pushdown: the length predicate must reach the source as a
    // PushedFilters entry (pruning on metadata, not after content reads)
    val pruned = bin.filter(col("length") > expected)
    assert(pruned.count() == 0)
    val plan = pruned.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*length".r.findFirstIn(plan).nonEmpty,
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  tempDirTest("date-partitioned events prune at the file listing on day " +
      "filters") { newDir =>
    val tmp = newDir("graft_daypart").toString
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    Formats.writeDatePartitioned(ev, s"$tmp/events_by_day", "ts")
    val days = new java.io.File(s"$tmp/events_by_day").listFiles()
      .count(_.getName.startsWith("day="))
    assert(days > 1, s"fixture spans $days day(s)")
    val firstDay = ev.select(to_date(col("ts"))).orderBy(col("ts"))
      .head.getDate(0)
    val back = spark.read.parquet(s"$tmp/events_by_day")
      .filter(col("day") === lit(firstDay))
    val plan = back.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*day".r.findFirstIn(plan).nonEmpty,
      plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n"))
    assert(back.count() ==
      ev.filter(to_date(col("ts")) === lit(firstDay)).count())
  }

  test("streamed index answers the add-then-search journey end to end") {
    import graft.streaming.StreamingIndex
    import graft.sources.IndexStore
    // build (or reuse) the two-batch streamed index, then search it with
    // doc 7's embedding: its own entry must come back at distance 0 first
    StreamingIndex.streamingIndexIngest(spark, sf).count()
    val root = IndexStore.indexDir(sf, "stream-index-v4", "documents")
    val q = Tables.load(spark, sf, "embeddings")
      .filter(col("vec_id") === 7)
      .select(expr("transform(embedding, x -> cast(x as double))"))
      .head.getSeq[Double](0)
    val hits = StreamingIndex.searchLatest(spark, root, q, k = 5).collect()
    assert(hits.length == 5)
    assert(hits.head.getAs[String]("id") == "doc-0000007")
    assert(hits.head.getAs[Double]("distance") == 0.0)
    val dists = hits.map(_.getAs[Double]("distance")).toSeq
    assert(dists == dists.sorted)
    // the empty-index guard (main.py:152-153): absent root → empty result
    val none = StreamingIndex.searchLatest(spark,
      s"$root-definitely-missing", q)
    assert(none.isEmpty)
  }

  test("bucketed tables join without an exchange on the bucket key") {
    // in-memory catalog + on-disk warehouse: scrub leftover locations from
    // prior JVMs or CREATE TABLE fails with LOCATION_ALREADY_EXISTS
    Seq("orders_b", "lineitem_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(new java.io.File(s"spark-warehouse/$t"))
    }
    val o = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    Formats.writeBucketed(o, "orders_b", "o_orderkey")
    val l = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    Formats.writeBucketed(l.withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey")
    val joined = spark.table("orders_b")
      .join(spark.table("lineitem_b"), "o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    // SortMergeJoin over bucketed scans must not reshuffle either side
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
    assert(joined.count() > 0)
  }

  test("normalizeTs handles all three documented ts encodings identically") {
    import spark.implicits._
    import org.apache.spark.sql.types.TimestampType
    val us = 1700000000123456L
    def tsUs(df: org.apache.spark.sql.DataFrame): Long = {
      val out = Tables.normalizeTs(df)
      assert(out.schema("ts").dataType == TimestampType)
      out.select("ts_us").head.getLong(0)
    }
    // nanos-long (the TIMESTAMP(NANOS) fixture vintage under nanosAsLong)
    assert(tsUs(Seq((1L, us * 1000L + 789L)).toDF("event_id", "ts")) == us)
    // TIMESTAMP_NTZ micros (the current vintage; UTC session ⇒ identity)
    assert(tsUs(Seq((1L, java.time.LocalDateTime.ofEpochSecond(
      us / 1000000L, (us % 1000000L).toInt * 1000,
      java.time.ZoneOffset.UTC))).toDF("event_id", "ts")) == us)
    // TimestampType micros
    assert(tsUs(Seq((1L, java.sql.Timestamp.from(java.time.Instant
      .ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))))
      .toDF("event_id", "ts")) == us)
    // anything else fails loudly, naming the type
    val err = intercept[IllegalStateException] {
      Tables.normalizeTs(Seq((1L, "not-a-ts")).toDF("event_id", "ts"))
    }
    assert(err.getMessage.contains("events.ts"))
  }

  test("fixture physical schemas match the documented contract") {
    // The driver regenerates the fixtures between rounds and has already
    // drifted a physical type once (events.ts TIMESTAMP(NANOS) →
    // TIMESTAMP_MICROS/NTZ, round 9 — it silently zeroed the whole events
    // family). This pin accepts each column's DOCUMENTED variants and
    // fails NAMING the drifted column and type, so the next regeneration
    // can never again break a family without a red test saying where.
    import org.apache.spark.sql.types._
    val tsVariants: Set[DataType] =
      Set(LongType, TimestampType, TimestampNTZType) // nanos-long | µs
    def exact(t: DataType): Set[DataType] = Set(t)
    val contract: Map[String, Seq[(String, Set[DataType])]] = Map(
      "region" -> Seq("r_regionkey" -> exact(IntegerType),
        "r_name" -> exact(StringType)),
      "nation" -> Seq("n_nationkey" -> exact(IntegerType),
        "n_name" -> exact(StringType),
        "n_regionkey" -> exact(IntegerType)),
      "customer" -> Seq("c_custkey" -> exact(LongType),
        "c_name" -> exact(StringType),
        "c_nationkey" -> exact(IntegerType),
        "c_acctbal" -> exact(DoubleType),
        "c_mktsegment" -> exact(StringType)),
      "supplier" -> Seq("s_suppkey" -> exact(LongType),
        "s_name" -> exact(StringType),
        "s_nationkey" -> exact(IntegerType),
        "s_acctbal" -> exact(DoubleType)),
      "part" -> Seq("p_partkey" -> exact(LongType),
        "p_name" -> exact(StringType), "p_brand" -> exact(StringType),
        "p_type" -> exact(StringType), "p_size" -> exact(IntegerType),
        "p_retailprice" -> exact(DoubleType)),
      "orders" -> Seq("o_orderkey" -> exact(LongType),
        "o_custkey" -> exact(LongType),
        "o_orderstatus" -> exact(StringType),
        "o_totalprice" -> exact(DoubleType),
        "o_orderdate" -> tsVariants,
        "o_orderpriority" -> exact(StringType)),
      "lineitem" -> Seq("l_orderkey" -> exact(LongType),
        "l_partkey" -> exact(LongType), "l_suppkey" -> exact(LongType),
        "l_linenumber" -> exact(IntegerType),
        "l_quantity" -> exact(DoubleType),
        "l_extendedprice" -> exact(DoubleType),
        "l_discount" -> exact(DoubleType), "l_tax" -> exact(DoubleType),
        "l_returnflag" -> exact(StringType),
        "l_linestatus" -> exact(StringType),
        "l_shipdate" -> tsVariants),
      "events" -> Seq("event_id" -> exact(LongType),
        "ts" -> tsVariants, "user_id" -> exact(LongType),
        "event_type" -> exact(StringType), "value" -> exact(DoubleType),
        "props" -> exact(StringType)),
      "documents" -> Seq("doc_id" -> exact(LongType),
        "text" -> exact(StringType), "lang" -> exact(StringType),
        "source" -> exact(StringType), "n_chars" -> exact(LongType)),
      "embeddings" -> Seq("vec_id" -> exact(LongType),
        "embedding" -> Set[DataType](ArrayType(FloatType, true),
          ArrayType(FloatType, false), ArrayType(DoubleType, true),
          ArrayType(DoubleType, false)),
        "label" -> exact(IntegerType)))
    val drift = contract.toSeq.sortBy(_._1).flatMap { case (table, cols) =>
      val actual = (if (table == "events") Tables.eventsRaw(spark, sf)
                    else Tables.load(spark, sf, table)).schema
      val missing = cols.collect {
        case (name, _) if !actual.fieldNames.contains(name) =>
          s"$table.$name: MISSING (fixture has ${actual.fieldNames.mkString(",")})"
      }
      val mismatched = cols.collect {
        case (name, allowed) if actual.fieldNames.contains(name) &&
            !allowed.contains(actual(name).dataType) =>
          s"$table.$name: fixture drifted to ${actual(name).dataType.simpleString} " +
            s"(documented variants: ${allowed.map(_.simpleString).mkString(" | ")})"
      }
      missing ++ mismatched
    }
    assert(drift.isEmpty, "\nFIXTURE SCHEMA DRIFT:\n" + drift.mkString("\n"))
  }

}
