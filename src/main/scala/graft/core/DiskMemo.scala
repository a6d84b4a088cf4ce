package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** EVICTION-PROOF sharing of slim intermediate frames — the
  * filesystem twin of `.cache()` (round-12 verdict item 1).
  *
  * `.cache()` shares a frame across sibling queries through Spark's
  * plan-keyed in-memory relation cache, but under memory pressure the
  * cached blocks are evicted and EVERY consumer re-pays the full
  * upstream pipeline — measured on the official bench box: the dedup
  * family's shared shingle/signature/sketch frames inflated 5–23×
  * under loadavg ≈ 2.5 while the identical code ran 1.27× on an idle
  * box. A frame memoized HERE is written once to a parquet file under
  * `java.io.tmpdir` and every consumer reads the FILE — a cache miss
  * costs a columnar file read (tens of ms for the MB-scale frames this
  * holds), never a 40 s recompute, at any memory pressure.
  *
  * Two forms:
  *  - [[ensure]] — caller-keyed (corpus dir + content stamp + tag), the
  *    `TsdbStore.ensureEventsStore` contract generalized;
  *  - [[persist]] — plan-keyed drop-in for `.cache()`: the key is a
  *    sha-256 digest of the frame's CANONICALIZED logical plan (expr
  *    ids normalized, so two identical constructions collide — the
  *    sharing `.cache()` gave) plus a name:size:mtime stamp of every
  *    file-source root in the plan (so a regenerated corpus re-derives
  *    instead of serving stale rows — the `corpusStamp` contract).
  *    Streaming frames pass through untouched (no files, no memo).
  *
  * Materialization is EAGER (the write runs at first call, like
  * `ensureEventsStore`), so the first declared query of a family pays
  * the build honestly and siblings read the artifact. Artifacts are
  * keyed into a per-JVM directory (sha-256 digest + a per-JVM uid), so
  * concurrent JVMs over the same corpus never race on one path and a
  * 32-bit hashCode collision can never conflate two corpora (ADVICE
  * round 12); a JVM-exit hook deletes the directory best-effort.
  */
object DiskMemo {

  /** Per-JVM discriminator: two JVMs never share (or race on) a path. */
  private lazy val jvmUid: String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName
      .replaceAll("[^A-Za-z0-9]", "") + "_" +
      Integer.toHexString(System.identityHashCode(DiskMemo))

  private lazy val root: java.io.File = {
    val d = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_diskmemo_$jvmUid")
    d.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(d)))
    d
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(deleteRec)
    f.delete(): Unit
  }

  private def sha16(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString

  /** digest(key) → artifact path. NOT built inside computeIfAbsent:
    * memoized builds NEST (cappedPairStats' ensure reads the distinct-
    * shingle frame through another ensure), and a nested
    * computeIfAbsent on one ConcurrentHashMap throws
    * IllegalStateException("Recursive update") whenever the two
    * digests happen to share a hash bin — a hash-dependent flake.
    * Instead: per-key lock objects serialize concurrent builders of
    * the SAME key (the write still runs at most once per key per JVM),
    * while nested builds of DIFFERENT keys just take their own lock.
    * Build dependencies form a DAG (pair stats → shingles), so lock
    * acquisition order is consistent and cannot deadlock. */
  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val buildLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Per-(session, artifact path) memo of the artifact-SCAN DataFrame
    * (round-19 optimization, guide §6): artifacts are write-once per
    * key per JVM, so re-reading one is always the same immutable file
    * set — but `spark.read.parquet` still re-lists and re-infers the
    * footer schema on every consumer call (~80 ms each, FloorProbe).
    * Metadata memo only; cleared with the build memo in [[clear]]
    * (a post-clear rebuild overwrites the path, which would stale a
    * kept listing). */
  private val readMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def readCached(spark: SparkSession, path: String): DataFrame = {
    val k = (spark, path)
    val hit = readMemo.get(k)
    if (hit != null) hit
    else { val df = spark.read.parquet(path); readMemo.putIfAbsent(k, df); readMemo.get(k) }
  }

  /** Build-once / read-everywhere: the first call per `key` (full
    * caller-provided key — fold a content stamp in when the source can
    * regenerate) materializes `build` to parquet; every call returns a
    * scan of that artifact. */
  def ensure(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    readCached(spark, ensurePath(key)(build))

  /** [[ensure]]'s artifact PATH, building it on the first call. */
  private def ensurePath(key: String)(build: => DataFrame): String = {
    val dg = sha16(key)
    var path = built.get(dg)
    if (path == null) {
      // the lock-object lambda touches no other map — never recursive
      buildLocks.computeIfAbsent(dg, _ => new Object).synchronized {
        path = built.get(dg)
        if (path == null) {
          val p = new java.io.File(root, dg).getAbsolutePath
          build.write.mode("overwrite").parquet(p)
          built.put(dg, p)
          path = p
        }
      }
    }
    path
  }

  /** name:size:mtime stamp of every file-source root feeding `df` —
    * the regen guard. Non-local URIs degrade to their path string
    * (same contract as NearDup.corpusStamp). */
  private def sourceStamp(df: DataFrame): String = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def stampFile(f: java.io.File): String =
      if (f.isDirectory)
        Option(f.listFiles).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).map(stampFile).mkString("[", ",", "]")
      else s"${f.getName}:${f.length}:${f.lastModified}"
    val roots = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case other => Seq(other.toString)
      }
    }.flatten.sorted
    roots.map { r =>
      val f =
        try {
          val u = new java.net.URI(r)
          if (u.getPath != null) new java.io.File(u.getPath) else new java.io.File(r)
        } catch { case _: Throwable => new java.io.File(r) }
      if (f.exists) stampFile(f) else r
    }.mkString(";")
  }

  /** Full-fidelity key text for the canonicalized plan. Two plan
    * `toString` hazards make the naive spelling COLLIDE distinct
    * frames (caught by ApiSpec's id-collision case):
    *  - LocalRelation prints only its schema, never its rows — two
    *    in-memory fixtures with the same shape would share one
    *    artifact; fold a value-hash of every local row into the key;
    *  - wide plans truncate ("... N more fields") at
    *    spark.sql.debug.maxToStringFields — raise it around the
    *    rendering so a 60-column sketch agg keys on all 60. */
  private def planKey(df: DataFrame): String = {
    val plan = df.queryExecution.analyzed.canonicalized
    val conf = df.sparkSession.conf
    val k = "spark.sql.debug.maxToStringFields"
    val prev = conf.getOption(k)
    conf.set(k, "1000000")
    val rendered =
      try plan.toString
      finally prev match {
        case Some(v) => conf.set(k, v)
        case None    => conf.unset(k)
      }
    val localData = plan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        s"${l.data.length}:${l.data.map(_.hashCode()).mkString(",")}"
    }.mkString("|")
    s"$rendered#$localData#${opaqueLeafIds(df)}"
  }

  /** Identity fold for leaves the key cannot otherwise discriminate
    * (ADVICE round 15): a LogicalRDD / ExternalRDD from
    * `createDataFrame(rdd, schema)` canonicalizes to nothing but its
    * schema — two same-shape RDD-backed frames would share one digest
    * and the second would silently read the first's rows. File sources
    * are covered by [[sourceStamp]] and LocalRelation by the row-hash
    * fold, so those contribute nothing here (sharing across identical
    * constructions is preserved); every OTHER leaf folds a per-instance
    * identity on the ORIGINAL analyzed plan, trading cross-construction
    * sharing for correctness. Same-DataFrame re-persist still shares
    * (same leaf objects → same ids). The identity is a monotonic
    * counter in an IdentityHashMap, NOT System.identityHashCode — the
    * latter is a non-unique 32-bit value whose collision would
    * silently serve another frame's rows (round-16 review); the map's
    * strong refs are bounded by the number of distinct opaque frames
    * persisted per JVM, the same lifetime as the artifacts
    * themselves. */
  private val leafSeq = new java.util.concurrent.atomic.AtomicLong()
  private val leafIds = new java.util.IdentityHashMap[AnyRef, java.lang.Long]()
  private def leafId(o: AnyRef): Long = leafIds.synchronized {
    var id = leafIds.get(o)
    if (id == null) { id = leafSeq.incrementAndGet(); leafIds.put(o, id) }
    id
  }
  private def opaqueLeafIds(df: DataFrame): String = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, OneRowRelation, Range => LRange}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    df.queryExecution.analyzed.collectLeaves().flatMap {
      case _: LocalRelation | _: OneRowRelation | _: LRange => Nil
      case l: LogicalRelation if l.relation.isInstanceOf[
        org.apache.spark.sql.execution.datasources.HadoopFsRelation] => Nil
      case other => Seq(s"${other.nodeName}@${leafId(other)}")
    }.mkString(",")
  }

  /** Drop-in for `.cache()` on a deterministic batch frame: memoized on
    * (canonicalized plan + local-relation row hashes, source file
    * stamps, tag). Identical constructions (e.g. the same corpus
    * pipeline built by two sibling queries) resolve to ONE artifact —
    * the sharing `.cache()` gave, minus the evictability. Streaming
    * frames return unchanged. */
  def persist(df: DataFrame, tag: String = ""): DataFrame = {
    if (df.isStreaming) return df
    readCached(df.sparkSession, ensurePath(
      s"$tag|${df.schema.catalogString}|${planKey(df)}|${sourceStamp(df)}")(df))
  }

  /** Memoize a DERIVED frame keyed on its INPUT's construction
    * (round-18 optimization): like [[persist]], but the artifact holds
    * `build` while the digest comes from `keyDf` (plan + local rows +
    * source stamps + tag). The point is to let `build` embed values
    * that only exist after an eager driver action on `keyDf` (e.g.
    * ParallelRank's approxQuantile bucket bounds): with [[persist]]
    * every sibling caller must re-run that action just to CONSTRUCT
    * the plan being looked up, paying the sketch job on every hit —
    * keying on the input makes a hit a pure parquet read. Safe iff
    * `build` is a deterministic pure function of `keyDf` and `tag`
    * (callers fold every other parameter into the tag). `build` is
    * by-name: a hit never evaluates it. */
  def persistDerived(keyDf: DataFrame, tag: String)(build: => DataFrame): DataFrame = {
    if (keyDf.isStreaming) return build
    readCached(keyDf.sparkSession, ensurePath(
      s"derived|$tag|${keyDf.schema.catalogString}|${planKey(keyDf)}|${sourceStamp(keyDf)}")(
      build))
  }

  /** Forget every memo entry (artifacts are overwritten on rebuild, so
    * clearing is always safe; the read memo must go with the build memo
    * or a rebuild's overwrite would stale a kept listing).
    * graft.core.Caches.release calls this. */
  private[graft] def clear(): Unit = { built.clear(); readMemo.clear() }
}
