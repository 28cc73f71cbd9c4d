package graft.cv

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cv.Geometry._

/** Player-identification pipeline — the Spark-native rebuild of the
  * reference's `player_identification/dl_k_to_ss.py` dataflow:
  *
  *   image bytes → pose estimation → posture gate → torso crop → digit
  *   spotting (region proposal → detector CNN → NMS → recognizer CNN →
  *   compose) → dominant-jersey-color k-means → L1 nearest-team → stats
  *   lookup join.
  *
  * Model seams (`PoseEstimator`, `PatchClassifier`, `ImageDecoder`) are
  * pluggable traits with deterministic test-doubles — the reference repo
  * itself ships no weights (`.MISSING_LARGE_BLOBS`) and uses exactly this
  * pattern for tests (digit_detector/classify.py:35-51
  * `TrueBinaryClassifier`). The Spark-side plumbing — BinaryType column in,
  * ArrayType(Struct) UDF out, explode, broadcast stats join — is real and
  * is what runs at scale; heavy per-record math stays inside the UDF
  * (narrow map, no shuffle until the final small-dim join).
  */
object PlayerIdent {

  /** Decoded image: row-major RGB pixels. */
  final case class Image(w: Int, h: Int, pixels: Array[Int])

  /** One detected person: 18 keypoints, each optionally (x, y, score)
    * (dl_k_to_ss.py:189-242 person assembly output). */
  final case class Person(keypoints: Array[Option[(Double, Double, Double)]])

  trait ImageDecoder extends Serializable {
    def decode(bytes: Array[Byte]): Option[Image]
  }

  trait PoseEstimator extends Serializable {
    def estimate(img: Image): Seq[Person]
  }

  trait PatchClassifier extends Serializable {
    /** P(patch is a digit) — the detector CNN (classify.py:18-33). */
    def detectProb(img: Image, box: Box): Double
    /** Recognized digit 0-9 — the recognizer CNN. */
    def recognize(img: Image, box: Box): Int
  }

  trait RegionProposer extends Serializable {
    /** Candidate digit boxes in a torso crop (MSER in the reference,
      * region_proposal.py:59-75). */
    def propose(img: Image, crop: Box): Seq[Box]
  }

  // ------------------------------------------------------------------ stubs

  /** STUB decode: the real path is cv2.imdecode on JPEG bytes
    * (dl_k_to_ss.py:359-362) — no image codec exists in this zero-egress
    * container, so bytes are expanded deterministically (splitmix64 PRNG
    * seeded by the byte content) into a 64x64 RGB image. Schema, batch
    * shape, and null-safety of the real path are preserved (None on empty
    * payload, as the reference's None-safe imdecoder). */
  object StubDecoder extends ImageDecoder {
    def decode(bytes: Array[Byte]): Option[Image] = {
      if (bytes == null || bytes.isEmpty) return None
      var seed = 0x9e3779b97f4a7c15L
      bytes.foreach(b => seed = (seed ^ b) * 0xbf58476d1ce4e5b9L)
      val px = new Array[Int](64 * 64)
      var i = 0
      while (i < px.length) {
        seed += 0x9e3779b97f4a7c15L
        var z = seed
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        px(i) = ((z ^ (z >>> 31)) & 0xffffff).toInt
        i += 1
      }
      Some(Image(64, 64, px))
    }
  }

  /** STUB pose: emits 1-3 persons with keypoint geometry derived from image
    * pixel statistics; shoulder/hip keypoints (indices 1,2,5,8,9,11,12 as in
    * dl_k_to_ss.py:32-39's limb map) are always populated so the posture
    * gate and torso crop run their real logic. */
  object StubPose extends PoseEstimator {
    def estimate(img: Image): Seq[Person] = {
      val nPersons = 1 + (math.abs(img.pixels(0)) % 3)
      (0 until nPersons).map { p =>
        val base = math.abs(img.pixels(p % img.pixels.length)) % 32
        val kps = Array.fill[Option[(Double, Double, Double)]](18)(None)
        val standing = (base % 4) == 0 // every 4th person fails the gate
        val hipY = 34.0 + base / 8.0
        // Seated → knee bent forward (hip angle ~90°, passes the <=110°
        // gate); standing → knee straight below the hip (angle ~170°, gate
        // rejects) — mirrors the posture semantics of dl_k_to_ss.py:253-278.
        val kneeDx = if (standing) 0.0 else 14.0
        val kneeDy = if (standing) 12.0 else 2.0
        kps(1) = Some((30.0 + p, 12.0, 0.9))                      // neck
        kps(2) = Some((22.0 + p, 14.0, 0.8))                      // r shoulder
        kps(5) = Some((40.0 + p, 14.0, 0.8))                      // l shoulder
        kps(8) = Some((26.0 + p, hipY, 0.7))                      // r hip
        kps(9) = Some((26.0 + p + kneeDx, hipY + kneeDy, 0.7))    // r knee
        kps(11) = Some((38.0 + p, hipY, 0.7))                     // l hip
        kps(12) = Some((38.0 + p - kneeDx, hipY + kneeDy, 0.7))   // l knee (bends outward)
        Person(kps)
      }
    }
  }

  /** STUB region proposal + classifier: boxes and digits derived from pixel
    * sums — deterministic, exercises threshold filter, NMS, and compose. */
  object StubRegions extends RegionProposer {
    def propose(img: Image, crop: Box): Seq[Box] = {
      val h = crop.y2 - crop.y1
      val w = crop.x2 - crop.x1
      if (h < 8 || w < 8) return Nil
      Seq(
        Box(crop.y1 + 1, crop.y1 + 1 + h / 2, crop.x1 + 1, crop.x1 + 1 + w / 3),
        Box(crop.y1 + 1, crop.y1 + 1 + h / 2, crop.x1 + w / 2, crop.x1 + w / 2 + w / 3),
        Box(crop.y1 + 2, crop.y1 + 2 + h / 2, crop.x1 + 2, crop.x1 + 2 + w / 3)) // overlaps #1 → NMS prey
    }
  }

  object StubClassifier extends PatchClassifier {
    private def pixelSum(img: Image, box: Box): Long = {
      var s = 0L
      var y = math.max(0, box.y1)
      while (y < math.min(img.h, box.y2)) {
        var x = math.max(0, box.x1)
        while (x < math.min(img.w, box.x2)) { s += (img.pixels(y * img.w + x) & 0xff); x += 1 }
        y += 1
      }
      s
    }
    def detectProb(img: Image, box: Box): Double = (pixelSum(img, box) % 100) / 100.0
    def recognize(img: Image, box: Box): Int = (pixelSum(img, box) % 10).toInt
  }

  // ------------------------------------------------------------- pipeline

  // digit-detector probability a proposal must exceed, and the IoU above
  // which NMS suppresses the weaker box (dl_k_to_ss.py:48-63)
  private val DetectThreshold = 0.5
  private val NmsThreshold = 0.1

  final case class Config(
      decoder: ImageDecoder = StubDecoder,
      pose: PoseEstimator = StubPose,
      regions: RegionProposer = StubRegions,
      classifier: PatchClassifier = StubClassifier,
      teams: Seq[(String, (Int, Int, Int))] = Seq(
        ("team_a", (245, 232, 230)), ("team_b", (27, 48, 157))))

  /** Torso crop from shoulder keypoints 2 and 5 (dl_k_to_ss.py:308-318,
    * streaming-normative): z = (xmax-xmin)/4; rows [ymin+z, ymin+5z]. */
  def torsoCrop(p: Person): Option[Box] =
    for {
      r <- p.keypoints(2)
      l <- p.keypoints(5)
    } yield {
      val xmin = math.min(r._1, l._1)
      val xmax = math.max(r._1, l._1)
      val ymin = math.min(r._2, l._2)
      val z = (xmax - xmin) / 4.0
      Box((ymin + z).toInt, (ymin + 5 * z).toInt, xmin.toInt, xmax.toInt)
    }

  /** Digit spotting (M6 = M5 → M4 → P8 → T1 NMS → M4 → T2 compose;
    * digit_detector/detect.py:80-157). */
  def spotDigit(img: Image, crop: Box, cfg: Config): Option[Int] = {
    val proposals = cfg.regions.propose(img, crop).toIndexedSeq
    if (proposals.isEmpty) return None
    val probs = proposals.map(b => cfg.classifier.detectProb(img, b))
    val passing = proposals.indices.filter(i => probs(i) > DetectThreshold)
    if (passing.isEmpty) return None
    val pb = passing.map(proposals).toIndexedSeq
    val pp = passing.map(probs).toIndexedSeq
    val kept = nms(pb, pp, NmsThreshold)
    val keptBoxes = kept.map(pb)
    val digits = keptBoxes.map(b => cfg.classifier.recognize(img, b))
    composeDigits(keptBoxes, digits)
  }

  /** Dominant jersey color of the torso crop via per-image k-means(5)
    * (dl_k_to_ss.py:323-336) → L1-nearest team (J2, :337-344). */
  def teamByColor(img: Image, crop: Box, cfg: Config): String = {
    val y0 = math.max(0, crop.y1); val y1 = math.min(img.h, crop.y2)
    val x0 = math.max(0, crop.x1); val x1 = math.min(img.w, crop.x2)
    val n = math.max(0, y1 - y0) * math.max(0, x1 - x0)
    if (n == 0) return cfg.teams.head._1
    val px = new Array[Int](n)
    var i = 0; var y = y0
    while (y < y1) {
      var x = x0
      while (x < x1) { px(i) = img.pixels(y * img.w + x); i += 1; x += 1 }
      y += 1
    }
    val (cent, assign) = kmeansRgb(px, 5)
    val dom = cent(dominantLabel(assign, cent.length))
    val rgb = (dom._1.round.toInt, dom._2.round.toInt, dom._3.round.toInt)
    cfg.teams(l1Nearest(rgb, cfg.teams.map(_._2)))._1
  }

  /** Full per-image pipeline: 0..n (team, num) detections (dl_k_to_ss.py:
    * 71-357 `process`). Team from color, number from the recognizer (Q8);
    * persons failing the posture gate or digit spotting are skipped. */
  def identifyPlayers(bytes: Array[Byte], cfg: Config): Seq[(String, Int)] =
    cfg.decoder.decode(bytes).toSeq.flatMap { raw =>
      // M12: denoise once per image before the per-person digit/color stages
      // (dl_k_to_ss.py:320)
      val img = Heatmaps.boxDenoise(raw)
      cfg.pose.estimate(img).flatMap { person =>
        val gateOk = (for {
          neck <- person.keypoints(1)
          rHip <- person.keypoints(8)
          rKnee <- person.keypoints(9)
          lHip <- person.keypoints(11)
          lKnee <- person.keypoints(12)
        } yield postureOk(
          angleDeg((neck._1, neck._2), (rHip._1, rHip._2), (rKnee._1, rKnee._2)),
          angleDeg((neck._1, neck._2), (lHip._1, lHip._2), (lKnee._1, lKnee._2))))
          .getOrElse(false)
        if (!gateOk) None
        else for {
          crop <- torsoCrop(person)
          num <- spotDigit(img, crop, cfg) // P11: ambiguous → dropped
        } yield (teamByColor(img, crop, cfg), num)
      }
    }

  /** Typed UDF row: one (team, num) detection. */
  final case class Detection(team: String, num: Int)

  /** The relational surface: BinaryType image column → exploded
    * (team, num) detections → broadcast stats lookup (J1) with the Q4 crash
    * fixed (left join + 'player not found' sentinel). */
  def pipeline(spark: SparkSession, images: DataFrame, imageCol: String,
      stats: DataFrame, cfg: Config = Config()): DataFrame = {
    val identify = udf((bytes: Array[Byte]) =>
      identifyPlayers(bytes, cfg).map { case (t, n) => Detection(t, n) })
    images
      .withColumn("det", explode(identify(col(imageCol))))
      .select(col("*"), col("det.team").as("team"), col("det.num").as("num"))
      .drop("det", imageCol)
      .join(broadcast(stats), Seq("team", "num"), "left_outer")
      .withColumn("status",
        when(col("score").isNull, lit("player not found")).otherwise(lit("ok")))
  }
}
