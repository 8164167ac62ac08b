package graft

import graft.sources.{IcebergTripleSink, ParquetTripleSink, TripleSink}

/** The Iceberg seam, executed: no Iceberg jars exist in this sandbox,
  * so the live probe can only report false — these specs inject the
  * probe result and drive the DataFrameWriterV2 path through
  * [[FakeV2Catalog]], a real (minimal) Spark V2 catalog, so the write
  * plumbing (createOrReplace -> create+append, partition transforms,
  * ALTER TABLE properties) has executed coverage
  * instead of rotting until a user on a real cluster hits it first. */
class TripleSinkSpec extends SparkSpec {

  test("probe: both branches execute, class name pinned, resolve() flips") {
    // sandbox truth: no Iceberg runtime on the classpath
    assert(!IcebergTripleSink.available)
    assert(TripleSink.resolve() == ParquetTripleSink)

    // absent-class branch
    assert(!IcebergTripleSink.probeAvailable(n =>
      throw new ClassNotFoundException(n)))
    // present-class branch, and the probed name is exactly the Iceberg
    // Spark catalog class (a typo here would silently disable the
    // Iceberg path in every environment, forever)
    var probed: String = null
    assert(IcebergTripleSink.probeAvailable { n =>
      probed = n; classOf[String]
    })
    assert(probed == "org.apache.iceberg.spark.SparkCatalog")

    // resolve flips on the probe result
    assert(TripleSink.resolveFor(icebergAvailable = true)
      .isInstanceOf[IcebergTripleSink])
    assert(TripleSink.resolveFor(icebergAvailable = false)
      == ParquetTripleSink)
  }

  test("IcebergTripleSink.write drives DataFrameWriterV2: bucket(32, subj) + pred transforms, rows, snapshot properties") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.fake_ice",
      classOf[FakeV2Catalog].getName)
    FakeV2Catalog.reset()
    val triples = Seq(
      ("funA", "calls", "funB", "ev1"),
      ("funA", "calls", "funC", "ev2"),
      ("funD", "imports", "funA", "ev3"))
      .toDF("subj", "pred", "obj", "evidence_id")

    new IcebergTripleSink().write(spark, triples, "fake_ice.db.triples",
      metrics = Map("docs" -> 5L, "truncated" -> 0L))

    val stored = FakeV2Catalog.tables("db.triples")
    // the catalog received the north rule's layout: hash-bucketed by
    // subject, partitioned by predicate — in that order
    val transforms = stored.partitioning.map(_.describe()).toSeq
    assert(transforms.length == 2, s"transforms: $transforms")
    assert(transforms.head.replaceAll("\\s", "") == "bucket(32,subj)",
      s"first transform: ${transforms.head}")
    assert(transforms(1) == "pred", s"second transform: ${transforms(1)}")
    // the rows landed through the V2 BatchWrite
    import scala.jdk.CollectionConverters._
    assert(stored.rows.asScala.toSet == Set(
      Seq("funA", "calls", "funB", "ev1"),
      Seq("funA", "calls", "funC", "ev2"),
      Seq("funD", "imports", "funA", "ev3")))
    // run metrics ride as table properties (the snapshot-versioned
    // analog of the parquet sink's metrics.json)
    assert(stored.props.get("graft.metrics.docs").contains("5"))
    assert(stored.props.get("graft.metrics.truncated").contains("0"))

    // createOrReplace REPLACES: a second write must not append
    new IcebergTripleSink().write(spark,
      Seq(("funX", "calls", "funY", "ev9"))
        .toDF("subj", "pred", "obj", "evidence_id"),
      "fake_ice.db.triples", metrics = Map.empty)
    assert(FakeV2Catalog.tables("db.triples").rows.asScala.toSeq ==
      Seq(Seq("funX", "calls", "funY", "ev9")))
  }
}
