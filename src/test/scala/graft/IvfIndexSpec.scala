package graft

import graft.operators.{IvfIndex, VectorSearch}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def randVec(seed: Int, dim: Int = 8): Array[Float] = {
    val r = new scala.util.Random(seed)
    val v = Array.fill(dim)(r.nextGaussian().toFloat)
    val n = math.sqrt(v.map(x => x * x.toDouble).sum)
    v.map(x => (x / n).toFloat)
  }

  test("below TrainMin stays untrained with cell_id 0") {
    val small = (0 until 50).map(i => (i.toLong, randVec(i))).toDF("doc_id", "embedding")
    val (withCells, ivf) = IvfIndex.build(small, nlist = 8)
    assert(!ivf.isTrained)
    assert(withCells.select("cell_id").distinct().as[Int].collect().toSeq == Seq(0))
    // search still exact over everything
    assert(IvfIndex.search(withCells, ivf, randVec(99), 5, nprobe = 2).count() == 5)
  }

  test("cell-partitioned corpus gets parquet partition pruning on probe") {
    val corpus = (0 until 300).map(i => (i.toLong, randVec(i))).toDF("doc_id", "embedding")
    val (withCells, ivf) = IvfIndex.build(corpus, nlist = 8)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/corpus"
    withCells.write.partitionBy("cell_id").parquet(path)
    val stored = spark.read.parquet(path)
    val probed = IvfIndex.probeCells(ivf, randVec(7), 2)
    val pruned = stored.filter(col("cell_id").isin(probed: _*))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell_id"))
    // pruned scan reads strictly fewer rows than the full corpus
    assert(pruned.count() < 300 && pruned.count() > 0)
  }

  test("quantizer save/load round-trip preserves assignment exactly") {
    val corpus = (0 until 200).map(i => (i.toLong, randVec(i))).toDF("doc_id", "embedding")
    val ivf = IvfIndex.train(corpus, nlist = 8)
    assert(ivf.isTrained)
    val path = java.nio.file.Files.createTempDirectory("graft-q").toString + "/quantizer.txt"
    IvfIndex.save(spark, ivf, path)
    val loaded = IvfIndex.load(spark, path)
    // Double.toString round-trips: centroids identical bit-for-bit...
    assert(loaded.nlist == ivf.nlist)
    assert(loaded.centroids.get.map(_.toSeq).toSeq == ivf.centroids.get.map(_.toSeq).toSeq)
    // ...hence identical cell assignment for every row.
    val a = IvfIndex.assign(corpus, ivf).select("doc_id", "cell_id")
      .as[(Long, Int)].collect().sortBy(_._1).toSeq
    val b = IvfIndex.assign(corpus, loaded).select("doc_id", "cell_id")
      .as[(Long, Int)].collect().sortBy(_._1).toSeq
    assert(a == b)
    // buildOrLoad takes the load path (no retrain) once the file exists
    assert(IvfIndex.buildOrLoad(spark, corpus, 8, path).centroids.get.head.toSeq ==
      ivf.centroids.get.head.toSeq)
    // the save leaves no temp sibling; a truncated quantizer fails naming its path
    val dir = new java.io.File(path).getParentFile
    assert(!dir.list().exists(_.startsWith("_")), dir.list().toSeq)
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    val cut = s"$dir/cut.txt"
    java.nio.file.Files.write(java.nio.file.Paths.get(cut),
      text.take(text.length / 2).getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](IvfIndex.load(spark, cut))
    assert(e.getMessage.contains(cut), e.getMessage)
  }

  test("filtered search: metadata predicate lands in the SAME pruned scan") {
    // FAISS IDSelector semantics: in Spark the label predicate composes
    // with partition pruning — PushedFilters carries the label while
    // PartitionFilters carries the probed cells, one scan, reads less.
    val corpus = (0 until 300)
      .map(i => (i.toLong, randVec(i), i % 10))
      .toDF("doc_id", "embedding", "label")
    val (withCells, ivf) = IvfIndex.build(corpus, nlist = 8)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-f").toString + "/corpus"
    withCells.write.partitionBy("cell_id").parquet(path)
    val stored = spark.read.parquet(path)
    val q = randVec(7)
    val hits = IvfIndex.search(stored.filter(col("label") === 3), ivf, q,
      k = 5, nprobe = 8)
    val got = hits.select("doc_id").as[Long].collect().toSeq
    // Probe-all + filter ≡ exact scan over the label slice.
    val want = VectorSearch.knnScores(
        corpus.filter(col("label") === 3), q, 5)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == want)
    assert(got.forall(_ % 10 == 3))
    val plan = IvfIndex.search(stored.filter(col("label") === 3), ivf, q,
      k = 5, nprobe = 2).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell_id"))
    assert(plan.contains("PushedFilters") && plan.contains("label"),
      s"label predicate did not reach the scan:\n$plan")
  }

  test("searchBatch on a cell-partitioned corpus prunes unprobed partitions") {
    val corpus = (0 until 400).map(i => (i.toLong, randVec(i))).toDF("doc_id", "embedding")
    val (withCells, ivf) = IvfIndex.build(corpus, nlist = 8)
    val path = java.nio.file.Files.createTempDirectory("graft-ivf-dpp").toString + "/corpus"
    withCells.write.partitionBy("cell_id").parquet(path)
    val stored = spark.read.parquet(path)
    val queries = (900 to 901).map(s => (s.toLong, randVec(s)))
    val hits = IvfIndex.searchBatch(stored, ivf, queries, k = 5, nprobe = 2)
    val plan = hits.queryExecution.executedPlan.toString
    // The probed-cell union is a STATIC isin filter, so it must appear in
    // the scan's PartitionFilters — a regression to full scans would drop it.
    assert(plan.contains("PartitionFilters") && plan.contains("cell_id"),
      s"no partition filter on cell_id:\n$plan")
    assert(plan.contains("cell_id#") && plan.toLowerCase.contains(" in "),
      s"isin partition filter missing:\n$plan")
    // and the pruned batch matches the unpartitioned corpus exactly
    val base = IvfIndex.searchBatch(withCells, ivf, queries, k = 5, nprobe = 2)
      .select("query_id", "doc_id", "doc_rank").as[(Long, Long, Int)].collect().sorted.toSeq
    val pruned = hits
      .select("query_id", "doc_id", "doc_rank").as[(Long, Long, Int)].collect().sorted.toSeq
    assert(pruned == base)
  }

  test("searchBatch matches per-query searchScores") {
    val corpus = (0 until 300).map(i => (i.toLong, randVec(i))).toDF("doc_id", "embedding")
    val (withCells, ivf) = IvfIndex.build(corpus, nlist = 8)
    val queries = (900 to 903).map(s => (s.toLong, randVec(s)))
    val batch = IvfIndex.searchBatch(withCells, ivf, queries, k = 5, nprobe = 3)
      .select("query_id", "doc_id", "doc_rank")
      .as[(Long, Long, Int)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2)).toMap
    queries.foreach { case (qid, v) =>
      val loop = IvfIndex.searchScores(withCells, ivf, v, 5, nprobe = 3)
        .select("doc_id").as[Long].collect().toSeq
      assert(batch(qid) == loop, s"query $qid")
    }
  }

  test("trained index assigns cells and prunes probes") {
    val corpus = (0 until 200).map(i => (i.toLong, randVec(i))).toDF("doc_id", "embedding")
    val (withCells, ivf) = IvfIndex.build(corpus, nlist = 8)
    assert(ivf.isTrained)
    val nCells = withCells.select("cell_id").distinct().count()
    assert(nCells > 1 && nCells <= 8)
    val q = randVec(5)
    val probed = IvfIndex.probeCells(ivf, q, 3)
    assert(probed.length == 3 && probed.distinct.length == 3)
    val hits = IvfIndex.search(withCells, ivf, q, 5, nprobe = 8)
    // probing ALL cells == exact search
    val exact = VectorSearch.knnSingle(corpus, q, 5).select("doc_id").as[Long].collect().toSeq
    assert(hits.select("doc_id").as[Long].collect().toSeq == exact)
  }

  test("rangeSearch: probe-all ≡ flat range search; nprobe=1 stays in its cell") {
    val data = (0 until 300).map(i => (i.toLong, randVec(i)))
    val docs = data.toDF("doc_id", "embedding")
    val (withCells, ivf) = IvfIndex.build(docs, nlist = 4)
    val qVec = data(5)._2
    val nlistTrained = ivf.centroids.get.length
    val probeAll = IvfIndex
      .rangeSearch(withCells, ivf, qVec, minScore = 0.5, nprobe = nlistTrained)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    val flat = VectorSearch.rangeSearch(docs, qVec, minScore = 0.5)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(probeAll.keySet == flat.keySet,
      "probe-all IVF range diverged from the flat range scan")
    probeAll.foreach { case (id, s) => assert(math.abs(s - flat(id)) < 1e-12) }
    val probedCell = IvfIndex.probeCells(ivf, qVec, 1).head
    val cells = IvfIndex.rangeSearch(withCells, ivf, qVec, 0.5, nprobe = 1)
      .select("cell_id").as[Int].collect().toSet
    assert(cells.subsetOf(Set(probedCell)))
  }

  test("cellStats: full histogram, fractions sum to 1, imbalance >= 1") {
    val corpus = (0 until 200).map(i => (i.toLong, randVec(i))).toDF("doc_id", "embedding")
    val (withCells, ivf) = IvfIndex.build(corpus, nlist = 8)
    val stats = IvfIndex.cellStats(withCells, ivf)
      .select("cell_id", "n_vectors", "frac", "imbalance_factor")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(stats.length == ivf.centroids.get.length,
      "every trained cell must appear, occupied or not")
    assert(stats.map(_._2).sum == 200L)
    assert(math.abs(stats.map(_._3).sum - 1.0) < 1e-3)
    val fac = stats.head._4
    assert(stats.forall(_._4 == fac), "factor must be constant across rows")
    assert(fac >= 1.0, s"imbalance factor below the balanced floor: $fac")
    // Cross-check the factor from the histogram itself.
    val k = stats.length
    val n = stats.map(_._2.toDouble).sum
    val ss = stats.map(s => s._2.toDouble * s._2.toDouble).sum
    assert(math.abs(fac - math.rint(k * ss / (n * n) * 1e4) / 1e4) < 1e-9)
  }

  test("driftStats: identical snapshots report zero shift; planted drift is visible") {
    val data = (0 until 300).map(i => (i.toLong, randVec(i)))
    val docs = data.toDF("doc_id", "embedding")
    val (_, ivf) = IvfIndex.build(docs, nlist = 6)

    val same = IvfIndex.driftStats(docs, docs, ivf).collect()
    assert(same.map(_.getLong(1)).sum == 300L) // n_old mass
    same.foreach { r =>
      assert(r.getLong(1) == r.getLong(2)) // n_old == n_new
      assert(r.getDouble(7) == 0.0, s"shift must be 0: $r") // shift
      assert(r.get(5) == r.get(6)) // means equal (incl. NULL empties)
    }

    // planted drift: drop every vector of the query-0 cell from "new"
    val cell0 = IvfIndex.assign(docs, ivf).filter(col("cell_id") === 0)
      .select("doc_id").as[Long].collect().toSet
    val newC = docs.filter(!col("doc_id").isin(cell0.toSeq: _*))
    val drifted = IvfIndex.driftStats(docs, newC, ivf).collect()
    val r0 = drifted.find(_.getLong(0) == 0L).get
    assert(r0.getLong(2) == 0L, "cell 0 must be empty in the new snapshot")
    assert(r0.isNullAt(6), "empty cell has no new-mean")
    assert(r0.getDouble(7) > 0.0, "occupancy shift must register")
    // the removed mass reappears as positive shift somewhere else too
    assert(drifted.map(_.getDouble(7)).sum > 0)
  }

  test("retrainIfDrifted: stable snapshots keep the quantizer, drift triggers retrain") {
    val data = (0 until 300).map(i => (i.toLong, randVec(i)))
    val docs = data.toDF("doc_id", "embedding")
    val (_, ivf) = IvfIndex.build(docs, nlist = 6)

    // identical snapshots: zero shift, zero residual growth -> no retrain
    val (same, retrained0) = IvfIndex.retrainIfDrifted(docs, docs, ivf)
    assert(!retrained0 && (same eq ivf))

    // planted drift: new snapshot shifts every vector far from the old
    // geometry (scaled + offset) -> occupancy AND residuals move
    val moved = data.map { case (id, v) =>
      (id, v.map(x => x * 3f + 2f))
    }.toDF("doc_id", "embedding")
    val (fresh, retrained1) = IvfIndex.retrainIfDrifted(docs, moved, ivf)
    assert(retrained1, "gross drift must trigger a retrain")
    assert(fresh.isTrained && !(fresh eq ivf))
    // the fresh quantizer actually fits the new data better
    GraftFunctions_registerSafe()
    def meanDist(q: IvfIndex.Ivf): Double = {
      val assigned = IvfIndex.assign(moved, q)
      assigned.select(
        graft.functions.GraftFunctions.normF32(
          graft.operators.PqIndex.residualColumn(q,
            org.apache.spark.sql.functions.col("embedding"),
            org.apache.spark.sql.functions.col("cell_id"))).as("d"))
        .agg(org.apache.spark.sql.functions.avg("d")).head.getDouble(0)
    }
    assert(meanDist(fresh) < meanDist(ivf))
  }

  private def GraftFunctions_registerSafe(): Unit =
    graft.functions.GraftFunctions.register(spark)

  test("cellStats on a skewed corpus reports the imbalance") {
    // 190 copies of one vector + 10 spread: mass collapses to one cell.
    val base = randVec(1)
    val corpus = ((0 until 190).map(i => (i.toLong, base)) ++
      (190 until 200).map(i => (i.toLong, randVec(i)))).toDF("doc_id", "embedding")
    val (withCells, ivf) = IvfIndex.build(corpus, nlist = 8)
    val fac = IvfIndex.cellStats(withCells, ivf)
      .select("imbalance_factor").as[Double].head()
    assert(fac > 2.0, s"collapsed corpus must report high imbalance, got $fac")
  }
  test("removeIds rewrites ONLY affected cell partitions, idempotently") {
    val corpus = (0 until 300).map(i => (i.toLong, randVec(i))).toDF("doc_id", "embedding")
    val (withCells, ivf) = IvfIndex.build(corpus, nlist = 8)
    val path = java.nio.file.Files.createTempDirectory("graft-rm").toString + "/corpus"
    withCells.write.partitionBy("cell_id").parquet(path)

    // the cells holding ids [50, 60) are the only ones that may change
    val affected = spark.read.parquet(path)
      .filter($"doc_id" >= 50 && $"doc_id" < 60)
      .select("cell_id").distinct().as[Int].collect().toSet
    def fileState(cell: Int): Set[(String, Long)] = {
      val d = new java.io.File(s"$path/cell_id=$cell")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val untouched = (0 until 8).filterNot(affected)
    val before = untouched.map(c => c -> fileState(c)).toMap

    val (cells, removed) = IvfIndex.removeIds(spark, path,
      col("doc_id") >= 50 && col("doc_id") < 60)
    assert(cells == affected.size.toLong)
    assert(removed == 10L)
    // untouched partitions: byte-for-byte same files, same mtimes
    untouched.foreach(c => assert(fileState(c) == before(c), s"cell $c touched"))
    // survivors intact, removed gone
    val after = spark.read.parquet(path)
    assert(after.count() == 290)
    assert(after.filter($"doc_id" >= 50 && $"doc_id" < 60).count() == 0)
    // survivors keep their original cell assignment
    val reference = withCells.filter(!($"doc_id" >= 50 && $"doc_id" < 60))
      .select($"doc_id", $"cell_id").as[(Long, Int)].collect().toMap
    val got = after.select($"doc_id", $"cell_id".cast("int")).as[(Long, Int)].collect().toMap
    assert(got == reference)
    // idempotent: a second run is a no-op
    val (cells2, removed2) = IvfIndex.removeIds(spark, path,
      col("doc_id") >= 50 && col("doc_id") < 60)
    assert(cells2 == 0L && removed2 == 0L)
    assert(spark.read.parquet(path).count() == 290)
    // no staging debris
    val leftovers = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("_rm_"))
    assert(leftovers.isEmpty)
  }
  test("removeIds: NULL-evaluating predicate rows are kept, uniformly") {
    val corpus = (0 until 300).map(i => (i.toLong, randVec(i))).toDF("doc_id", "embedding")
    val (withCells, ivf) = IvfIndex.build(corpus, nlist = 8)
    val path = java.nio.file.Files.createTempDirectory("graft-rmnull").toString + "/corpus"
    withCells.write.partitionBy("cell_id").parquet(path)
    // when() without otherwise: TRUE on [5,10), FALSE on [0,5), NULL on >=10
    val pred = when(col("doc_id") < 10, col("doc_id") >= 5)
    val (_, removed) = IvfIndex.removeIds(spark, path, pred)
    assert(removed == 5L, "only the TRUE rows count as removed")
    val after = spark.read.parquet(path)
    assert(after.count() == 295, "NULL rows kept even in rewritten cells")
    assert(after.filter($"doc_id" >= 5 && $"doc_id" < 10).count() == 0)
    assert(after.filter($"doc_id" >= 10).count() == 290,
      "every NULL-evaluating row survives regardless of its cell")
  }
  test("removeIds recovery heals both sides of the two-rename crash window") {
    val corpus = (0 until 300).map(i => (i.toLong, randVec(i))).toDF("doc_id", "embedding")
    val (withCells, ivf) = IvfIndex.build(corpus, nlist = 8)
    val path = java.nio.file.Files.createTempDirectory("graft-rmcr").toString + "/corpus"
    withCells.write.partitionBy("cell_id").parquet(path)
    val cells = withCells.select($"cell_id").distinct().as[Int].collect().sorted
    assert(cells.length >= 2)
    val (cFwd, cBack) = (cells(0), cells(1))
    val expect = withCells.select($"doc_id", $"cell_id").as[(Long, Int)]
      .collect().toMap
    def mv(a: String, b: String): Unit = {
      assert(new java.io.File(s"$path/$a").renameTo(new java.io.File(s"$path/$b")))
    }
    // FORWARD case: tmp write finished (_SUCCESS present), crash fell
    // between rename(dir->old) and rename(tmp->dir). Survivors = cell
    // contents minus doc_id==victimFwd.
    val victimFwd = spark.read.parquet(s"$path/cell_id=$cFwd")
      .select($"doc_id").as[Long].head()
    spark.read.parquet(s"$path/cell_id=$cFwd").filter($"doc_id" =!= victimFwd)
      .write.parquet(s"$path/_rm_tmp_cell_$cFwd")
    assert(new java.io.File(s"$path/_rm_tmp_cell_$cFwd/_SUCCESS").exists())
    mv(s"cell_id=$cFwd", s"_rm_old_cell_$cFwd")
    // ROLLBACK case: tmp write itself died (no _SUCCESS) after dir was
    // staged out — old must come back.
    new java.io.File(s"$path/_rm_tmp_cell_$cBack").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$path/_rm_tmp_cell_$cBack/part-partial.parquet"),
      Array[Byte](0, 1, 2))
    mv(s"cell_id=$cBack", s"_rm_old_cell_$cBack")
    // next removeIds call heals both before matching anything
    val (cellsRw, removed) = IvfIndex.removeIds(spark, path, lit(false))
    assert(cellsRw == 0L && removed == 0L)
    val after = spark.read.parquet(path)
      .select($"doc_id", $"cell_id".cast("int")).as[(Long, Int)].collect().toMap
    assert(after == expect - victimFwd,
      "forward cell completed from tmp, rollback cell restored from old")
    val debris = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("_rm_"))
    assert(debris.isEmpty, s"staging debris left: ${debris.mkString(",")}")
  }
  test("mergeStores: file-level splice — no rewrite, union preserved") {
    val corpus = (0 until 300).map(i => (i.toLong, randVec(i))).toDF("doc_id", "embedding")
    val ivf = IvfIndex.train(corpus, nlist = 8)
    val base = java.nio.file.Files.createTempDirectory("graft-mg").toString
    IvfIndex.assign(corpus.filter($"doc_id" % 2 === 0), ivf)
      .write.partitionBy("cell_id").parquet(s"$base/dest")
    IvfIndex.assign(corpus.filter($"doc_id" % 2 === 1), ivf)
      .write.partitionBy("cell_id").parquet(s"$base/src")
    // dest's original data files must survive the merge untouched
    def destFiles(): Set[(String, Long)] =
      new java.io.File(s"$base/dest").listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath, f.lastModified())).toSet
    val before = destFiles()
    val (cells, movedFiles) = IvfIndex.mergeStores(spark, s"$base/dest", s"$base/src")
    assert(cells > 0 && movedFiles > 0)
    assert(before.subsetOf(destFiles()), "merge rewrote dest files")
    assert(!new java.io.File(s"$base/src").exists, "src store not removed")
    // merged store == direct full-corpus store, row for row
    val merged = spark.read.parquet(s"$base/dest")
      .select($"doc_id", $"cell_id".cast("int")).as[(Long, Int)].collect().toMap
    val direct = IvfIndex.assign(corpus, ivf)
      .select($"doc_id", $"cell_id").as[(Long, Int)].collect().toMap
    assert(merged == direct)
  }
  test("mergeStoresShifted: donor ids remapped +addId, dest never rewritten") {
    val corpus = (0 until 300).map(i => (i.toLong, randVec(i))).toDF("doc_id", "embedding")
    val ivf = IvfIndex.train(corpus, nlist = 8)
    val base = java.nio.file.Files.createTempDirectory("graft-mg2").toString
    IvfIndex.assign(corpus.filter($"doc_id" % 2 === 0), ivf)
      .write.partitionBy("cell_id").parquet(s"$base/dest")
    IvfIndex.assign(corpus.filter($"doc_id" % 2 === 1), ivf)
      .write.partitionBy("cell_id").parquet(s"$base/src")
    def destFiles(): Set[(String, Long)] =
      new java.io.File(s"$base/dest").listFiles().filter(_.isDirectory)
        .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getPath, f.lastModified())).toSet
    val before = destFiles()
    val (cells, movedFiles) =
      IvfIndex.mergeStoresShifted(spark, s"$base/dest", s"$base/src", 5000L)
    assert(cells > 0 && movedFiles > 0)
    assert(before.subsetOf(destFiles()), "merge rewrote dest files")
    assert(!new java.io.File(s"$base/src").exists, "donor store not removed")
    assert(!new java.io.File(s"$base/src_shifted").exists,
      "staging dir not consumed")
    // merged rows = evens as-is + odds shifted, cell assignment unchanged
    val merged = spark.read.parquet(s"$base/dest")
      .select($"doc_id", $"cell_id".cast("int")).as[(Long, Int)].collect().toMap
    val direct = IvfIndex.assign(corpus, ivf)
      .select($"doc_id", $"cell_id").as[(Long, Int)].collect().toMap
    val expected = direct.map { case (id, c) =>
      (if (id % 2 == 1) id + 5000L else id) -> c
    }
    assert(merged == expected)
  }
}
