package graft.operators

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once parquet asset lifecycle + the generation manifest.
  *
  * [[ensureParquetAsset]] is the shared fingerprint-guarded build-once
  * machinery behind every stored index in the library (the MinHash
  * signature index, the PQ code table, the walk-edge graph, the
  * ranked k-NN graph): built from the source corpus once, stored in
  * the warehouse dir, rebuilt only when the source files change — at
  * 100 TB these are the nightly index jobs, and every query-time read
  * hits parquet. One implementation instead of a copy per asset, so
  * the fingerprint/marker/atomic-publish discipline cannot drift.
  *
  * [[recordGeneration]]/[[manifest]] add the lifecycle metadata a
  * living index needs: a tiny per-asset manifest (JSON lines next to
  * the asset dir) tying each (asset, generation) to its row count and
  * the tombstone/upsert batch it folded, so an operator KNOWS which
  * compaction generation is serving instead of trusting directory
  * layout. Generation 0 is the base build (recorded automatically by
  * [[ensureParquetAsset]]); compactions append higher generations and
  * the HIGHEST generation is serving. A base rebuild (source
  * fingerprint change) resets the manifest — stale generations
  * described a dead asset.
  */
object Assets {

  /** Directory-safe tag for a source dir — the suffix every warehouse
    * asset dir carries so different corpora never collide.
    */
  def tagOf(dir: String): String = dir.replaceAll("[^A-Za-z0-9]", "_")

  private def warehouse(s: SparkSession): java.io.File =
    new java.io.File(s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))

  /** Absolute path of the stored asset dir named `name`. */
  def assetPath(s: SparkSession, name: String): String =
    new java.io.File(warehouse(s), name).getAbsolutePath

  // Fingerprint the actual content files, not the top-level entry: for
  // a Spark-written directory table, File.length() on the directory
  // does not reflect content and the dir mtime can survive in-place
  // part-file rewrites — a stale asset would be served silently.
  // listFiles() is null on IO error / concurrent removal — degrade to
  // an empty fingerprint (→ marker mismatch → rebuild), never NPE.
  private def fpOf(f: java.io.File): Seq[String] =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName).toIndexedSeq
        .filterNot(_.getName.startsWith(".")).flatMap(fpOf)
    else Seq(s"${f.getAbsolutePath}|${f.length()}|${f.lastModified()}")

  /** Ensure the asset named `name` (a warehouse dir) exists and is
    * fresh for `src` (+ `extraFp`, e.g. a compaction's tombstone-set
    * signature); (re)build via `build` when not. Returns a reader of
    * the stored parquet. `generation` >= 1 marks a compaction: the
    * manifest row appends instead of resetting, and freshness
    * additionally requires the BASE generation's marker to be older
    * knowledge than this one (base rebuilds invalidate compactions via
    * the shared source fingerprint). `retire` names sibling dirs to
    * delete on rebuild (stale naming schemes).
    */
  def ensureParquetAsset(s: SparkSession, name: String, src: java.io.File,
      extraFp: String = "", generation: Long = 0L,
      nTombstones: Long = 0L, nUpserts: Long = 0L,
      retire: String => Boolean = _ => false,
      algoFp: String = "")
      (build: => DataFrame): DataFrame = Assets.synchronized {
    val loc = new java.io.File(warehouse(s), name)
    val fp = (fpOf(src) ++ algoLine(algoFp) :+ s"#extra|$extraFp").mkString("\n")
    val marker = new java.io.File(loc.getParentFile, s"${loc.getName}_source")
    val fresh = marker.isFile && loc.isDirectory &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8") == fp
    if (!fresh) {
      Option(loc.getParentFile.listFiles()).getOrElse(Array.empty)
        .filter(f => retire(f.getName)).foreach(FileUtils.deleteQuietly)
      Seq(loc, marker).foreach(FileUtils.deleteQuietly)
      build.write.mode("overwrite").parquet(loc.getAbsolutePath)
      recordGeneration(s, name, generation,
        s.read.parquet(loc.getAbsolutePath).count(), nTombstones, nUpserts)
      // atomic publish: the marker appears only complete, never torn —
      // a concurrent reader sees either no marker (rebuilds) or the
      // full fingerprint (the per-JVM lock covers same-JVM races only)
      val tmp = java.io.File.createTempFile(loc.getName, ".tmp", loc.getParentFile)
      java.nio.file.Files.write(tmp.toPath, fp.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp.toPath, marker.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else if (!manifest(s, name).exists(_.generation == generation)) {
      // asset fresh but its manifest row lost (e.g. built by an older
      // code version): backfill from the stored files
      recordGeneration(s, name, generation,
        s.read.parquet(loc.getAbsolutePath).count(), nTombstones, nUpserts)
    }
    s.read.parquet(loc.getAbsolutePath)
  }

  /** The `#algo|` marker line: a version tag for the KERNEL that built
    * the asset, so a stored asset published by an older code version of
    * the build logic reads as stale even when the source corpus is
    * unchanged (the cache-invalidation hole a source-only fingerprint
    * leaves open for [[freshIgnoringExtra]]'s fast path). Empty tag =
    * no line, so assets that never opted in keep their markers valid.
    */
  private def algoLine(algoFp: String): Seq[String] =
    if (algoFp.isEmpty) Seq.empty else Seq(s"#algo|$algoFp")

  /** True when the stored asset named `name` exists and its marker's
    * SOURCE fingerprint (and `#algo` kernel tag, when one is required)
    * matches `src`, IGNORING the marker's `#extra` line. For a
    * compaction whose extraFp is an order-free signature
    * of a batch that is itself a deterministic function of the source
    * (the upsert WAL), an unchanged source implies an unchanged batch
    * — so a caller can skip recomputing the batch just to re-derive
    * the signature the marker already validated at publish time. A
    * source change still reads as stale (and a base rebuild resets
    * the manifest); a kernel change bumps `algoFp` and reads as stale
    * — so staleness is never masked.
    */
  def freshIgnoringExtra(s: SparkSession, name: String,
      src: java.io.File, algoFp: String = ""): Boolean = Assets.synchronized {
    val loc = new java.io.File(warehouse(s), name)
    val marker = new java.io.File(loc.getParentFile, s"${loc.getName}_source")
    marker.isFile && loc.isDirectory && {
      val stored = new String(
        java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
      stored.split("\n").filterNot(_.startsWith("#extra|")).mkString("\n") ==
        (fpOf(src) ++ algoLine(algoFp)).mkString("\n")
    }
  }

  /** One manifest row: a generation of a stored asset. */
  final case class AssetGen(asset: String, generation: Long, nRows: Long,
      nTombstones: Long, nUpserts: Long)

  /** The manifest lives NEXT TO the base asset dir as JSON lines —
    * driver-scale metadata (a handful of generations), atomically
    * republished on every record. Compaction dir names (`<base>_genN`)
    * normalize to the base, so every generation keys into ONE manifest.
    */
  private def baseKey(name: String): String =
    name.replaceAll("_gen\\d+$", "")

  private def manifestFile(s: SparkSession, name: String): java.io.File =
    new java.io.File(warehouse(s), s"${baseKey(name)}_manifest.json")

  private def fmt(g: AssetGen): String =
    s"""{"asset":"${g.asset}","generation":${g.generation},""" +
      s""""n_rows":${g.nRows},"n_tombstones":${g.nTombstones},""" +
      s""""n_upserts":${g.nUpserts}}"""

  private val GenRe =
    ("""\{"asset":"([^"]*)","generation":(-?\d+),"n_rows":(-?\d+),""" +
      """"n_tombstones":(-?\d+),"n_upserts":(-?\d+)\}""").r

  /** Record a generation: generation 0 RESETS the manifest (a base
    * rebuild orphans every compaction); generation g >= 1 replaces
    * any existing row with generation >= g (recompacting from the
    * base supersedes later experiments) and keeps the earlier ones.
    */
  def recordGeneration(s: SparkSession, baseName: String, generation: Long,
      nRows: Long, nTombstones: Long = 0L, nUpserts: Long = 0L)
      : Unit = Assets.synchronized {
    val kept =
      if (generation == 0L) Seq.empty
      else manifest(s, baseName).filter(_.generation < generation)
    val rows = kept :+
      AssetGen(baseKey(baseName), generation, nRows, nTombstones, nUpserts)
    val f = manifestFile(s, baseName)
    val tmp = java.io.File.createTempFile(f.getName, ".tmp", f.getParentFile)
    java.nio.file.Files.write(tmp.toPath,
      rows.map(fmt).mkString("", "\n", "\n").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** All recorded generations of `baseName`, ascending. */
  def manifest(s: SparkSession, baseName: String): Seq[AssetGen] = {
    val f = manifestFile(s, baseName)
    if (!f.isFile) Seq.empty
    else new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split("\n").toIndexedSeq.flatMap {
        case GenRe(a, g, n, t, u) =>
          Some(AssetGen(a, g.toLong, n.toLong, t.toLong, u.toLong))
        case _ => None
      }.sortBy(_.generation)
  }

  /** The generation the manifest says is SERVING: the highest one. */
  def servingGeneration(s: SparkSession, baseName: String): Option[AssetGen] =
    manifest(s, baseName).lastOption
}
