package graft

import org.apache.spark.sql.functions._
import graft.etl.ScoringPipeline

/** The core dataflow: decode (kafka-shaped JSON), enrich null
  * propagation through left joins, and the reference's two
  * formulations agreeing (SURVEY.md §3.2 differential oracle).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def mkUsers = Seq(
    ("u1", "R1", 1000.0, 100.0, 200.0, 50.0, 150.0),
    ("u2", "R2", 10.0, 100.0, 200.0, 50.0, 150.0))
    .toDF("id_usuario", "id_regiao", "saldo", "limite_PIX", "limite_TED",
      "limite_DOC", "limite_Boleto")

  private def mkRegions = Seq(("R1", 0.0, 0.0), ("R2", 3.0, 4.0))
    .toDF("id_regiao", "latitude", "longitude")

  private def mkTx = Seq(
    ("t1", "u1", "u2", "R2", "PIX", "2024-05-05 13:00:00", 50.0),
    ("t2", "zz", "u1", "R1", "TED", "2024-05-05 01:00:00", 99.0) // no payer
  ).toDF("id_transacao", "id_usuario_pagador", "id_usuario_recebedor",
    "id_regiao", "modalidade_pagamento", "ts", "valor_transacao")
    .withColumn("data_horario", to_timestamp(col("ts"))).drop("ts")

  test("decode parses kafka-shaped JSON rows into typed columns") {
    val raw = Seq(
      ("""{"id_transacao":"a","id_usuario_pagador":"u1",
         |"id_usuario_recebedor":"u2","id_regiao":"R1",
         |"modalidade_pagamento":"PIX",
         |"data_horario":"2024-05-05T13:00:00",
         |"valor_transacao":42.5}""".stripMargin.replace("\n", ""),
        java.sql.Timestamp.valueOf("2024-05-05 13:00:01")))
      .toDF("value", "timestamp")
    val got = ScoringPipeline.decode(raw)
    assert(got.columns.contains("id_regiao_transacao"))
    val row = got.select("id_transacao", "modalidade_pagamento",
      "valor_transacao").as[(String, String, Double)].head()
    assert(row == ("a", "PIX", 42.5))
  }

  test("decode: corrupt and half-schema JSON degrade to nulls, not errors") {
    // the reference's from_json semantics (P2/P21): a corrupt payload
    // yields a null struct -> an all-null row that flows through the
    // scoring gates as null, never an exception; missing fields null
    // only their columns. The pipeline must keep (and label) such
    // rows, mirroring "every event is kept and labeled" (SURVEY 2.3)
    val raw = Seq(
      ("this is not json {", java.sql.Timestamp.valueOf("2024-05-05 13:00:01")),
      ("""{"id_transacao":"b","valor_transacao":7.0}""",
        java.sql.Timestamp.valueOf("2024-05-05 13:00:02")))
      .toDF("value", "timestamp")
    val got = ScoringPipeline.decode(raw)
      .select("id_transacao", "modalidade_pagamento", "valor_transacao")
      .as[(Option[String], Option[String], Option[Double])].collect().toSet
    assert(got == Set(
      (None, None, None),             // corrupt: null struct, row kept
      (Some("b"), None, Some(7.0))))  // partial: absent fields null
  }

  test("enrich+score: matched payer gets gates, t5 distance correct") {
    val out = ScoringPipeline.runDeterministic(mkTx, mkUsers, mkRegions)
    val t1 = out.filter(col("id_transacao") === "t1")
      .select("t5_score", "saldo_aprovado", "limite_aprovado",
        "transacao_aprovada")
      .as[(Double, Boolean, Boolean, Boolean)].head()
    // tx region R2 (3,4) vs payer-home region R1 (0,0): dist = 5
    assert(t1._1 == 5.0 && t1._2 && t1._3 && t1._4)
  }

  test("unmatched payer: null gates, null transacao_aprovada") {
    val out = ScoringPipeline.runDeterministic(mkTx, mkUsers, mkRegions)
    val t2 = out.filter(col("id_transacao") === "t2")
      .select("t5_score", "saldo_aprovado", "transacao_aprovada").head()
    assert(t2.isNullAt(0) && t2.isNullAt(1) && t2.isNullAt(2))
  }

  test("column-wise pipeline equals join-by-PK formulation (J4)") {
    // the reference's src/teste.py builds scores as separate DFs and
    // re-joins them by id_transacao; both must agree (§3.2)
    val base = ScoringPipeline.enrich(mkTx, mkUsers, mkRegions)
    val columnWise = ScoringPipeline.score(base)
      .select("id_transacao", "score_medio")
    val t5df = ScoringPipeline.score(base)
      .select(col("id_transacao"), col("t5_score"))
    val t6df = ScoringPipeline.score(base)
      .select(col("id_transacao"), col("t6_score"))
    val t7df = ScoringPipeline.score(base)
      .select(col("id_transacao"), col("t7_score"))
    val joined = t5df.join(t6df, Seq("id_transacao"))
      .join(t7df, Seq("id_transacao"))
      .select(col("id_transacao"),
        ((col("t5_score") * col("t6_score") * col("t7_score")) / 3.0)
          .as("score_medio"))
    assert(columnWise.exceptAll(joined).isEmpty &&
      joined.exceptAll(columnWise).isEmpty)
  }

  test("shape emits the 17-column reference projection") {
    val out = ScoringPipeline.run(
      mkTx.withColumn("tempo_entrada_kafka", current_timestamp())
        .withColumn("tempo_inicio_processamento", current_timestamp()),
      mkUsers, mkRegions)
    assert(out.columns.length == 17 &&
      out.columns.take(4).toSeq == Seq("id_transacao", "id_usuario_pagador",
        "id_usuario_recebedor", "id_regiao"))
    assert(out.count() == 2)
  }

  test("observe() rides pipeline metrics on the action itself (T6 analog)") {
    import org.apache.spark.sql.functions._
    // the reference runs a SECOND streaming query for console metrics;
    // Dataset.observe attaches the aggregates to the main pass — no
    // extra scan, no fan-out query, works identically under streaming
    val obs = org.apache.spark.sql.Observation("scoring_metrics")
    val dir = "/root/testdata/sf0.001"
    val scored = graft.etl.ScoringPipeline.runDeterministic(
      graft.etl.TestdataAdapter.transactions(spark, dir),
      graft.etl.TestdataAdapter.users(spark, dir),
      graft.etl.TestdataAdapter.regions(spark, dir),
      graft.etl.TestdataAdapter.eventLimitArms)
    val n = scored.observe(obs,
      count(lit(1)).as("rows"),
      count(when(col("transacao_aprovada"), 1)).as("approved"),
      avg(col("score_medio")).as("avg_score")).count()
    val m = obs.get
    assert(m("rows") == n)
    val approved = m("approved").asInstanceOf[Long]
    assert(approved > 0 && approved <= n)
    assert(!m("avg_score").asInstanceOf[Double].isNaN)
  }

  test("zScorePerRow: a payer whose values are all equal gets a null " +
    "z-score under ANSI, not DIVIDE_BY_ZERO") {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val scored = Seq(("t1", "u1", 5.0), ("t2", "u1", 5.0),
        ("t3", "u2", 1.0), ("t4", "u2", 3.0))
        .toDF("id_transacao", "id_usuario_pagador", "valor_transacao")
      val z = graft.analytics.Dashboard.zScorePerRow(scored)
        .as[(String, Option[Double])].collect().toMap
      assert(z == Map("t1" -> None, "t2" -> None,
        "t3" -> Some(-0.7071), "t4" -> Some(0.7071)), s"z-scores: $z")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
