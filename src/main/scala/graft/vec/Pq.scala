package graft.vec

import graft.core.{Tables => T}
import graft.ops.OpSpec
import org.apache.spark.sql.functions._

/** Product quantization — the vector-compression tier of the ANN
  * stack (reference scope: SURVEY §2.J similarity-search rows; PQ
  * itself is the standard public recipe: split the vector into `m`
  * subvectors, k-means each subspace to `ksub` centroids, store only
  * the per-subspace code — asymmetric distance (ADC) then scans codes
  * with a per-query lookup table instead of raw floats).
  *
  * Codebooks are trained OFFLINE ([[TrainPq]], deterministic k-means)
  * and inlined as literals into both engines ([[PqCodebooks]] — the
  * IvfCentroids device), so the gate proves encode + ADC are the same
  * math in Spark and DuckDB.
  *
  * 100 TB shapes:
  *  - encode is ROW-LOCAL (64 codegen'd dot products per row, no
  *    shuffle, scan-fused): a 256 B float vector becomes m 4-bit
  *    codes, so the encoded corpus is ~128× smaller than the raw one
  *    — the artifact you actually keep hot for search;
  *  - ADC builds the m×ksub lookup table ONCE per query (on the
  *    single query row, before the broadcast), then every corpus row
  *    pays m array lookups + m adds — no per-row dot products at all;
  *  - the per-query top-k reduces via orderBy+limit
  *    (TakeOrderedAndProject: per-partition top-k, O(k) to driver).
  *
  * Every emitted double is bit-identical across engines by
  * construction (literal centroids round-trip exactly; the dot is the
  * proven ordered fold; adds are written in one fixed order), so
  * outputs are UNROUNDED per the never-round-bit-identical rule.
  */
object Pq {
  import PqCodebooks.{m, ksub, subDim}

  /** Codebooks: books(subspace)(code) = centroid of subDim doubles. */
  type Books = Array[Array[Array[Double]]]

  /** Plain-identifier guard before any caller-supplied column name is
    * spliced into generated expression text (an unusual name would
    * otherwise fail with a confusing parse error or, worse, alter the
    * generated expression). */
  private def ident(s: String): String = {
    require("[A-Za-z_][A-Za-z0-9_]*".r.matches(s),
      s"not a plain identifier: '$s'")
    s
  }

  /** |c|² of codebook entry (s, j) — a Scala constant, spelled
    * identically into both engines. */
  private def csqB(b: Books, s: Int, j: Int): Double = {
    val c = b(s)(j)
    var acc = 0.0; var i = 0
    while (i < c.length) { acc += c(i) * c(i); i += 1 }
    acc
  }
  private def csq(s: Int, j: Int): Double = csqB(PqCodebooks.codebooks, s, j)

  /** Double literal, Spark spelling — `D` suffix so the parser types
    * it DOUBLE directly (a bare 17-digit literal would go through
    * DECIMAL; Spark widens without truncation, but explicit is
    * proof). */
  private def fs(x: Double): String = s"${x}D"

  /** Double literal, DuckDB spelling — exponent suffix forces DOUBLE.
    * CRITICAL: a bare decimal literal inside a DuckDB LIST literal is
    * unified with its neighbours to one DECIMAL scale and can be
    * TRUNCATED before the ::DOUBLE[] cast (measured: ...484360002 →
    * ...48436, a 4-dp loss); `e0` makes each element DOUBLE from the
    * start, which parses correctly rounded. */
  private def fd(x: Double): String = {
    val s = x.toString
    if (s.contains('E') || s.contains('e')) s else s + "e0"
  }

  /** Spark ordered-fold dot of expression `es` with literal centroid. */
  private def dotLitB(b: Books, es: String, s: Int, j: Int): String = {
    val lit = s"array(${b(s)(j).map(fs).mkString(",")})"
    s"aggregate(zip_with($es, $lit, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
  }
  private def dotLit(es: String, s: Int, j: Int): String =
    dotLitB(PqCodebooks.codebooks, es, s, j)

  /** DuckDB spelling of the same dot — an EXPLICIT left fold, not
    * list_inner_product: the builtin accumulates with FMA and drifts
    * an ulp from the two-rounding fold on real inputs (measured), and
    * PQ outputs are unrounded. */
  private def dotDuck(es: String, s: Int, j: Int): String = {
    val lit = s"[${PqCodebooks.codebooks(s)(j).map(fd).mkString(",")}]::DOUBLE[]"
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($es, $lit), x -> x[1]*x[2])), (acc, x) -> acc + x)"
  }

  private def sliceSparkB(b: Books, s: Int) = s"slice(e, ${s * b(0)(0).length + 1}, ${b(0)(0).length})"
  private def sliceSpark(s: Int) = s"slice(e, ${s * subDim + 1}, $subDim)"
  private def sliceDuck(s: Int)  = s"e[${s * subDim + 1}:${(s + 1) * subDim}]"

  /** d(s,j) = |c|² − 2·e_s·c — the |e_s|² term is constant across j
    * and added back only where the true squared error is needed. */
  private def dSparkB(b: Books, s: Int, j: Int) =
    s"(${fs(csqB(b, s, j))} - 2.0D * ${dotLitB(b, sliceSparkB(b, s), s, j)})"
  private def dSpark(s: Int, j: Int) = dSparkB(PqCodebooks.codebooks, s, j)
  private def dDuck(s: Int, j: Int)  = s"(${fd(csq(s, j))} - 2.0 * ${dotDuck(sliceDuck(s), s, j)})"

  /** Spark: argmin over the ksub codes of subspace s → struct(d, c). */
  private def minStructB(b: Books, s: Int): String =
    "array_min(array(" +
      b(s).indices.map(j => s"named_struct('d', ${dSparkB(b, s, j)}, 'c', cast($j as bigint))")
        .mkString(", ") + "))"

  /** DuckDB: the distance list per subspace (argmin via
    * list_indexof(list_min) — first occurrence ⇒ ties to the lower
    * code, matching Spark's struct-min tie rule on bit-identical d). */
  private def dlDuck(s: Int): String =
    "[" + (0 until ksub).map(j => dDuck(s, j)).mkString(", ") + "]"

  /** Shared DuckDB encode CTE: enc(vec_id, e, c0..c{m-1}, dm0..). */
  private def encSqlCte: String = {
    val dls = (0 until m).map(s => s"${dlDuck(s)} AS dl$s").mkString(",\n    ")
    val codes = (0 until m).map(s =>
      s"cast(list_indexof(dl$s, list_min(dl$s)) - 1 as bigint) AS c$s, list_min(dl$s) AS dm$s")
      .mkString(",\n    ")
    s"""v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
       |dl AS (SELECT vec_id, label, e,
       |    $dls
       |  FROM v),
       |enc AS (SELECT vec_id, label, e,
       |    $codes
       |  FROM dl)""".stripMargin
  }

  /** Encoded frame: keyCols ++ (e, c0.., dm0..) — row-local.
    * `vecCol` is spliced into generated expression text, so it must be
    * a plain identifier ([[ident]]); keyCols go through `col()`. */
  private[vec] def encFrame(df: org.apache.spark.sql.DataFrame, vecCol: String,
                            keyCols: Seq[String], b: Books) = {
    ident(vecCol)
    var out = df.select((keyCols.map(col) :+
      expr(s"transform($vecCol, x -> cast(x as double))").as("e")): _*)
    for (sub <- b.indices) {
      out = out.withColumn(s"ms$sub", expr(minStructB(b, sub)))
    }
    b.indices.foldLeft(out) { (acc, sub) =>
      acc.withColumn(s"c$sub", col(s"ms$sub.c"))
        .withColumn(s"dm$sub", col(s"ms$sub.d"))
    }
  }

  /** Spark-side encoded frame for the gated queries. */
  private def encDf(s: org.apache.spark.sql.SparkSession, d: String) =
    encFrame(T.embeddings(s, d), "embedding", Seq("vec_id", "label"),
      PqCodebooks.codebooks)

  /** |e_s|² terms for qerr = Σ_s (|e_s|² + d_min(s)) — the true
    * squared reconstruction error, one fixed-order left-assoc sum. */
  private def esqSparkB(b: Books, s: Int) =
    s"aggregate(zip_with(${sliceSparkB(b, s)}, ${sliceSparkB(b, s)}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
  private def esqSpark(s: Int) = esqSparkB(PqCodebooks.codebooks, s)
  private def esqDuck(s: Int) =
    s"list_reduce(list_prepend(0.0, list_transform(${sliceDuck(s)}, x -> x*x)), (acc, x) -> acc + x)"

  private[vec] def qerrExprB(b: Books): String =
    b.indices.map(sub => s"(${esqSparkB(b, sub)} + dm$sub)").mkString(" + ")

  // ----------------------------------------------------------------
  // Parameterized API (graft.api entry points) — any frame, any
  // codebooks (train per corpus with TrainPq; defaults are the gated
  // constants).
  // ----------------------------------------------------------------

  /** PQ-encode `df`: idCol ++ (c0..c{m-1}, qerr). Row-local — fuses
    * into the scan, no shuffle (plan-asserted in PqSpec). */
  def pqEncodeOf(df: org.apache.spark.sql.DataFrame, idCol: String, vecCol: String,
                 books: Books = PqCodebooks.codebooks): org.apache.spark.sql.DataFrame =
    encFrame(df, vecCol, Seq(idCol), books)
      .select((col(idCol) +: books.indices.map(sub => col(s"c$sub")) :+
        expr(qerrExprB(books)).as("qerr")): _*)

  /** Batched ADC search: top-`k` corpus rows per query row by
    * asymmetric distance. Each query row computes its m×ksub LUT once
    * (row-local on the broadcast side); corpus rows pay m lookups + m
    * adds. Output: (qid, rk, id, adc_dist).
    *
    * `excludeSelf` (default true, the self-search case: queries drawn
    * from the corpus, where the trivial distance-0 self hit is noise):
    * a corpus row whose `idCol` equals the query's id is dropped. Pass
    * false when corpus and queries are DISTINCT frames whose id spaces
    * happen to overlap — otherwise valid neighbors are silently lost
    * (ADVICE round 11). */
  def pqAdcSearch(corpus: org.apache.spark.sql.DataFrame,
                  queries: org.apache.spark.sql.DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  books: Books = PqCodebooks.codebooks,
                  excludeSelf: Boolean = true): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    ident(idCol); ident(vecCol)
    // DISK-memoized (round 14): the corpus-side encode is the m
    // argmin folds per row — every ADC consumer over the same corpus
    // (top-k, recall report) reads ONE codes artifact instead of
    // re-encoding (the codes are 128× smaller than the vectors, the
    // point of PQ — persisting them IS the production index build)
    val enc = graft.core.DiskMemo.persist(
      encFrame(corpus, vecCol, Seq(idCol), books)
        .select((col(idCol) +: books.indices.map(sub => col(s"c$sub"))): _*),
      "pq_codes")
    val lutCols = books.indices.map { sub =>
      expr("array(" + books(sub).indices.map(j => dSparkB(books, sub, j)).mkString(", ") + ")")
        .as(s"l$sub")
    }
    val q = queries
      .select(col(idCol).as("qid"),
        expr(s"transform($vecCol, x -> cast(x as double))").as("e"))
      .select((col("qid") +:
        expr("aggregate(zip_with(e, e, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
          .as("qsq") +: lutCols): _*)
    val adc = "qsq + " + books.indices
      .map(sub => s"element_at(l$sub, cast(c$sub + 1 as int))").mkString(" + ")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adc_dist"), col(idCol))
    val joined = enc.crossJoin(broadcast(q))
    (if (excludeSelf) joined.filter(col(idCol) =!= col("qid")) else joined)
      .select(col("qid"), col(idCol), expr(adc).as("adc_dist"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("rk").cast("bigint").as("rk"),
        col(idCol), col("adc_dist"))
  }

  /** Per-group mean reconstruction error (ordered-fold sum — exact
    * determinism across partitionings): (by, n, mse). */
  def pqMseOf(df: org.apache.spark.sql.DataFrame, byCol: String, idCol: String,
              vecCol: String,
              books: Books = PqCodebooks.codebooks): org.apache.spark.sql.DataFrame = {
    ident(idCol) // spliced into the ordered-fold agg text below
    encFrame(df, vecCol, Seq(byCol, idCol), books)
      .select(col(byCol), col(idCol), expr(qerrExprB(books)).as("qerr"))
      .groupBy(byCol)
      .agg(count(lit(1)).as("n"),
        expr(s"""aggregate(transform(array_sort(collect_list(named_struct('i', $idCol, 'q', qerr))),
          |  x -> x.q), 0D, (acc, x) -> acc + x)""".stripMargin).as("sum_qerr"))
      .select(col(byCol), col("n"), (col("sum_qerr") / col("n")).as("mse"))
  }

  val ops: Seq[OpSpec] = Seq(
    // PQ encode: the compressed representation (m 4-bit codes) plus
    // the exact reconstruction error per vector. Row-local.
    OpSpec(
      "vec_pq_encode",
      (s, d) => pqEncodeOf(T.embeddings(s, d), "vec_id", "embedding")
        .orderBy("vec_id"),
      Some {
        val qerr = (0 until m).map(sub => s"(${esqDuck(sub)} + dm$sub)").mkString(" + ")
        s"""WITH $encSqlCte
           |SELECT vec_id, ${(0 until m).map(s => s"c$s").mkString(", ")},
           |  $qerr AS qerr
           |FROM enc ORDER BY vec_id""".stripMargin
      },
    ),
    // ADC top-k: approximate nearest neighbours of vector 0 by
    // asymmetric distance — LUT built once on the query row, corpus
    // side touches only codes.
    OpSpec(
      "sim_pq_adc_topk",
      (s, d) => {
        val enc = encDf(s, d)
          .select((col("vec_id") +: (0 until m).map(sub => col(s"c$sub"))): _*)
        val lutCols = (0 until m).map { sub =>
          expr("array(" + (0 until ksub).map(j => dSpark(sub, j)).mkString(", ") + ")")
            .as(s"l$sub")
        }
        val q = T.embeddings(s, d).filter(col("vec_id") === 0)
          .select(expr("transform(embedding, x -> cast(x as double))").as("e"))
          .select((expr("aggregate(zip_with(e, e, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
            .as("qsq") +: lutCols): _*)
        val adc = "qsq + " + (0 until m)
          .map(sub => s"element_at(l$sub, cast(c$sub + 1 as int))").mkString(" + ")
        enc.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= 0)
          .select(col("vec_id"), expr(adc).as("adc_dist"))
          .orderBy("adc_dist", "vec_id")
          .limit(10)
      },
      Some {
        val luts = (0 until m).map(sub =>
          "[" + (0 until ksub).map(j => dDuck(sub, j)).mkString(", ") + s"] AS l$sub")
          .mkString(",\n    ")
        val adc = "qsq + " + (0 until m).map(sub => s"l$sub[c$sub + 1]").mkString(" + ")
        s"""WITH $encSqlCte,
           |q AS (SELECT list_reduce(list_prepend(0.0, list_transform(e, x -> x*x)),
           |        (acc, x) -> acc + x) AS qsq,
           |    $luts
           |  FROM v WHERE vec_id = 0)
           |SELECT vec_id, $adc AS adc_dist
           |FROM enc, q WHERE vec_id <> 0
           |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin
      },
    ),
    // Recall report: ADC top-k vs the exact L2 top-k for a panel of
    // query vectors — the self-measuring knob the IVF tier already
    // has (sim_recall_report). recall = hits/k is an int/int IEEE
    // division, bit-identical unrounded.
    OpSpec(
      "sim_pq_recall_report",
      (s, d) => {
        val emb = T.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 3)
        val adc = pqAdcSearch(emb, queries, "vec_id", "embedding", 10)
          .select(col("qid"), col("vec_id"))
        val exact = emb
          .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("e"))
          .crossJoin(broadcast(queries
            .select(col("vec_id").as("qid"),
              expr("transform(embedding, x -> cast(x as double))").as("qe"))))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"),
            expr("aggregate(zip_with(e, qe, (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)")
              .as("d2"))
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("qid")
              .orderBy(col("d2"), col("vec_id"))))
          .filter(col("rk") <= 10)
          .select(col("qid"), col("vec_id"))
        adc.join(exact, Seq("qid", "vec_id"))
          .groupBy("qid")
          .agg(count(lit(1)).as("n_hits"))
          .select(col("qid"), col("n_hits"),
            (col("n_hits") / lit(10)).as("recall"))
          .orderBy("qid")
      },
      Some {
        // relational encode (VALUES codebook + QUALIFY argmin — the
        // IvfPq oracle device) so ADC is computed per (vector, query)
        // from codes + a per-query LUT, exactly like the Spark side.
        // The ADC fold STARTS from qsq — (((qsq+l0)+l1)+…) — matching
        // the Spark side's `qsq + l0 + l1 + …` addition order exactly:
        // FP addition is non-associative, so folding the luts first and
        // adding qsq last could differ by an ulp and flip top-10
        // membership on near-tied distances (ADVICE round 11).
        val b = PqCodebooks.codebooks
        val cbRows = (for (s <- b.indices; j <- b(s).indices) yield {
          var acc = 0.0; b(s)(j).foreach(x => acc += x * x)
          s"($s, $j, ${fd(acc)}, [${b(s)(j).map(fd).mkString(",")}]::DOUBLE[])"
        }).mkString(",\n    ")
        val fold = (a: String, c: String) =>
          s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $c), x -> x[1]*x[2])), (acc, x) -> acc + x)"
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
           |pcb(sub, code, ccsq, cb) AS (VALUES $cbRows),
           |dd AS (SELECT vec_id, e, sub, code,
           |    ccsq - 2.0 * ${fold(s"e[(sub*$subDim+1):((sub+1)*$subDim)]", "cb")} AS d
           |  FROM v, pcb),
           |best AS (SELECT vec_id, sub, code FROM dd
           |  QUALIFY row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) = 1),
           |q AS (SELECT vec_id AS qid, e AS qe,
           |    list_reduce(list_prepend(0.0, list_transform(e, x -> x*x)),
           |      (acc, x) -> acc + x) AS qsq
           |  FROM v WHERE vec_id < 3),
           |lut AS (SELECT qid, sub, code,
           |    ccsq - 2.0 * ${fold(s"qe[(sub*$subDim+1):((sub+1)*$subDim)]", "cb")} AS lval
           |  FROM q, pcb),
           |sc AS (SELECT b.vec_id, l.qid, b.sub, l.lval
           |  FROM best b JOIN lut l ON b.sub = l.sub AND b.code = l.code),
           |adcs AS (SELECT sc.vec_id, sc.qid,
           |    list_reduce(list_prepend(qq.qsq, list(lval ORDER BY sub)),
           |      (acc, x) -> acc + x) AS adc_dist
           |  FROM sc JOIN q qq ON sc.qid = qq.qid
           |  GROUP BY sc.vec_id, sc.qid, qq.qsq),
           |adc AS (SELECT qid, vec_id
           |  FROM adcs WHERE vec_id <> qid
           |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) <= 10),
           |exact AS (SELECT qid, vec_id
           |  FROM (SELECT q.qid, v.vec_id,
           |          list_reduce(list_prepend(0.0, list_transform(list_zip(v.e, q.qe),
           |            x -> (x[1]-x[2])*(x[1]-x[2]))), (acc, x) -> acc + x) AS d2
           |        FROM v, q WHERE v.vec_id <> q.qid) t
           |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY d2, vec_id) <= 10)
           |SELECT a.qid, cast(count(*) as bigint) AS n_hits,
           |  count(*) / 10 AS recall
           |FROM adc a JOIN exact e ON a.qid = e.qid AND a.vec_id = e.vec_id
           |GROUP BY a.qid ORDER BY a.qid""".stripMargin
      },
    ),
    // Compression quality report: per-label mean reconstruction error
    // (the number you watch when choosing m/ksub). The per-label mean
    // is an ordered fold over (vec_id, qerr) — bit-identical across
    // engines and partitionings; at 100 TB you would shard the fold by
    // vec_id range and fold the shard sums in a second ordered pass.
    OpSpec(
      "vec_pq_mse",
      (s, d) => pqMseOf(T.embeddings(s, d), "label", "vec_id", "embedding")
        .select(col("label").cast("int").as("label"), col("n"), col("mse"))
        .orderBy("label"),
      Some {
        val qerr = (0 until m).map(sub => s"(${esqDuck(sub)} + dm$sub)").mkString(" + ")
        s"""WITH $encSqlCte,
           |t AS (SELECT label, vec_id, $qerr AS qerr FROM enc)
           |SELECT cast(label as int) AS label, cast(count(*) as bigint) AS n,
           |  list_reduce(list_prepend(0.0, list(qerr ORDER BY vec_id)),
           |    (acc, x) -> acc + x) / count(*) AS mse
           |FROM t GROUP BY label ORDER BY label""".stripMargin
      },
    ),
  )
}
