package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** fastText-style language identification (Joulin et al. 2016 "Bag of
  * Tricks for Efficient Text Classification", the architecture behind
  * fastText's lid.176 model): a linear classifier over character n-gram
  * features. Here the classifier is the repo's multinomial NB machinery
  * ([[Classify]] — mergeable integer count state, broadcast-model
  * scoring), with the word-token featurizer swapped for 1-3 char grams;
  * that keeps train/merge/score/persist identical to the quality
  * classifier (q86/q93) while the features become script- and
  * orthography-sensitive (accents, umlauts, Cyrillic, CJK all carry
  * their own gram mass).
  *
  * This replaces the 6-language marker-word heuristic
  * ([[TextAnalysis.languageId]]) as the serious LID rung: CCNet/C4/
  * RefinedWeb all key stage one on a trained char-n-gram classifier,
  * and the mixture/budget operators group by its output.
  *
  * Scale shape: training runs on a FIXED seed corpus (labeled LID data
  * is hand-curated — it does not grow with the corpus), so the model is
  * a bounded (gram × language) table. Scoring is the corpus-sized pass:
  * one normalize + gram-explode into a slim (doc, gram, tf) frame
  * (map-side-combinable groupBy), a BROADCAST join against the model,
  * and one map-side-combinable groupBy(doc, lang) — the corpus never
  * shuffles for the lookup, exactly the q86 plan shape the plan audit
  * pins.
  *
  * reference capability: none (deequ has no LID); part of the
  * beyond-reference LLM-pipeline family (SURVEY §2 pipeline block).
  */
object LangId {

  /** Char n-gram featurizer for [[Classify]]: (idCol, term, tf) where
    * term ranges over all n-grams, `minN <= n <= maxN`, of the
    * normalized text (lowercased, whitespace collapsed to single
    * spaces, one boundary space added on each side — so grams carry
    * word-boundary context, the fastText convention). Character-based
    * substrings (not bytes), so multi-byte scripts gram correctly.
    *
    * The normalized string is materialized as a real column BEFORE the
    * gram lambdas reference it: HOF lambda bodies get no common-
    * subexpression elimination, and an inline normalize would re-run
    * the regexp per gram position (the [[Similarity.l2Normalize]]
    * O(d²) trap).
    */
  def charGramFrequencies(minN: Int = 1, maxN: Int = 3): Classify.Featurizer = {
    require(minN >= 1 && maxN >= minN, s"bad gram range [$minN, $maxN]")
    (df: DataFrame, idCol: String, textCol: String) => {
      // A document's gram tf is a function of THAT ROW alone, so the
      // (doc, term, tf) frame is computed in one imperative per-partition
      // pass (per-doc hash map, one output row per distinct gram) and
      // NOTHING shuffles before the broadcast model join — the earlier
      // explode + groupBy(doc, gram) formulation shuffled ~3 gram rows
      // per character of corpus (the Dedup.gramHashRows lesson).
      // Equivalence with the expression form is spec-pinned.
      val norm = concat(lit(" "),
        regexp_replace(trim(lower(coalesce(col(textCol).cast(StringType),
          lit("")))), "\\s+", " "),
        lit(" "))
      val withNorm = df.where(col(idCol).isNotNull)
        .select(col(idCol), norm.as("graft_norm"))
      val idField = withNorm.schema.head
      val outSchema = StructType(Seq(idField,
        StructField("term", StringType, nullable = false),
        StructField("tf", LongType, nullable = false)))
      implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(outSchema)
      val lo = minN
      val hi = maxN
      graft.core.Parallelism.floor(withNorm).mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.get(0)
          // gram by CODE POINTS, not UTF-16 units — Spark's substr and
          // DuckDB's substring both count characters, and a surrogate
          // pair must be one character here too
          val cps = r.getString(1).codePoints().toArray
          val counts = new java.util.LinkedHashMap[String, Long]()
          var n = lo
          while (n <= hi) {
            var i = 0
            val last = cps.length - n
            while (i <= last) {
              val g = new String(cps, i, n)
              val c = counts.get(g)
              counts.put(g, if (c == null) 1L else c + 1L)
              i += 1
            }
            n += 1
          }
          val it = counts.entrySet().iterator()
          new Iterator[org.apache.spark.sql.Row] {
            override def hasNext: Boolean = it.hasNext
            override def next(): org.apache.spark.sql.Row = {
              val e = it.next()
              org.apache.spark.sql.Row(id, e.getKey, e.getValue)
            }
          }
        }
      }
    }
  }

  /** The built-in training seed: six everyday sentences per language,
    * eight languages across three scripts (Latin with and without
    * diacritics, Cyrillic, CJK). Small by design — the point of char
    * grams is that a handful of sentences carries enough orthographic
    * signal to separate languages (pt vs es vs it lean on ã/õ/nh vs
    * ñ/ll vs gli/zz-style gram mass); production users pass their own
    * labeled seed through [[train]]. Classes are balanced (uniform
    * priors) so prediction is driven by gram evidence alone.
    */
  val DefaultSeed: Seq[(String, String)] = Seq(
    "en" -> "the quick brown fox jumps over the lazy dog",
    "en" -> "there is nothing better than a good book on a rainy day",
    "en" -> "we went to the market and bought fresh bread and cheese",
    "en" -> "what time does the train leave for the city tomorrow",
    "en" -> "she opened the window because the morning air was cool and clear",
    "en" -> "they would rather stay home and cook than drive into town",
    "de" -> "der schnelle braune fuchs springt über den faulen hund",
    "de" -> "es gibt nichts besseres als ein gutes buch an einem regnerischen tag",
    "de" -> "wir gingen auf den markt und kauften frisches brot und käse",
    "de" -> "um wie viel uhr fährt der zug morgen in die stadt",
    "de" -> "sie öffnete das fenster weil die morgenluft kühl und klar war",
    "de" -> "die kinder spielen nachmittags gern im garten hinter dem haus",
    "fr" -> "le rapide renard brun saute par dessus le chien paresseux",
    "fr" -> "il n'y a rien de mieux qu'un bon livre un jour de pluie",
    "fr" -> "nous sommes allés au marché et avons acheté du pain frais et du fromage",
    "fr" -> "à quelle heure part le train pour la ville demain",
    "fr" -> "elle a ouvert la fenêtre parce que l'air du matin était frais et clair",
    "fr" -> "les enfants aiment jouer dans le jardin derrière la maison l'après-midi",
    "es" -> "el rápido zorro marrón salta sobre el perro perezoso",
    "es" -> "no hay nada mejor que un buen libro en un día de lluvia",
    "es" -> "fuimos al mercado y compramos pan fresco y queso",
    "es" -> "a qué hora sale el tren para la ciudad mañana",
    "es" -> "ella abrió la ventana porque el aire de la mañana era fresco y claro",
    "es" -> "a los niños les gusta jugar por la tarde en el jardín detrás de la casa",
    "it" -> "la veloce volpe marrone salta sopra il cane pigro",
    "it" -> "non c'è niente di meglio di un buon libro in un giorno di pioggia",
    "it" -> "siamo andati al mercato e abbiamo comprato pane fresco e formaggio",
    "it" -> "a che ora parte il treno per la città domani",
    "it" -> "lei ha aperto la finestra perché l'aria del mattino era fresca e limpida",
    "it" -> "ai bambini piace giocare nel pomeriggio in giardino dietro la casa",
    "pt" -> "a rápida raposa marrom pula sobre o cão preguiçoso",
    "pt" -> "não há nada melhor do que um bom livro num dia de chuva",
    "pt" -> "fomos ao mercado e compramos pão fresco e queijo",
    "pt" -> "a que horas sai o comboio para a cidade amanhã de manhã",
    "pt" -> "ela abriu a janela porque o ar da manhã estava fresco e limpo",
    "pt" -> "as crianças gostam de brincar à tarde no jardim atrás da casa",
    "ru" -> "быстрая коричневая лиса прыгает через ленивую собаку",
    "ru" -> "нет ничего лучше хорошей книги в дождливый день",
    "ru" -> "мы пошли на рынок и купили свежий хлеб и сыр",
    "ru" -> "во сколько завтра отправляется поезд в город",
    "ru" -> "она открыла окно потому что утренний воздух был свежим и чистым",
    "ru" -> "дети любят играть днем в саду за домом",
    "ja" -> "素早い茶色の狐はのろまな犬を飛び越える",
    "ja" -> "雨の日には良い本を読むのが一番だ",
    "ja" -> "私たちは市場へ行って新鮮なパンとチーズを買った",
    "ja" -> "明日の朝の電車は何時に出発しますか",
    "ja" -> "彼女は朝の空気が涼しくて澄んでいたので窓を開けた",
    "ja" -> "子供たちは午後に家の裏の庭で遊ぶのが好きだ")

  /** The seed as a (seed_id, lang, text) frame. */
  def seedFrame(spark: SparkSession,
      seed: Seq[(String, String)] = DefaultSeed): DataFrame = {
    import spark.implicits._
    seed.zipWithIndex
      .map { case ((lang, text), i) => (i.toLong, lang, text) }
      .toDF("seed_id", "lang", "text")
  }

  /** Train a char-n-gram NB language model on a labeled seed frame
    * (idCol, langCol, textCol). Same count-state algebra as the quality
    * classifier: per-shard [[Classify.countState]] with this featurizer
    * merge via [[Classify.mergeCounts]] and derive once.
    */
  def train(
      labeled: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      alpha: Double = 1.0,
      minN: Int = 1,
      maxN: Int = 3): Classify.NbModel =
    Classify.trainNaiveBayes(labeled, idCol, textCol, langCol, alpha,
      charGramFrequencies(minN, maxN))

  /** [[train]] on the built-in [[DefaultSeed]]. */
  def trainDefault(spark: SparkSession, alpha: Double = 1.0): Classify.NbModel =
    train(seedFrame(spark), "seed_id", "text", "lang", alpha)

  /** The NB count state of a driver-side seed, computed ON THE DRIVER —
    * a plain-Scala replay of [[charGramFrequencies]] ∘
    * [[Classify.countState]]. A labeled LID seed is a bounded constant
    * (it does not grow with the corpus), so distributing its training
    * burns a dozen scheduler round-trips to count a few thousand grams;
    * here the counts come from one in-process loop and land in Spark as
    * a local relation, and [[Classify.modelFromCounts]] derives the
    * model through the SAME expressions as the distributed path — the
    * result is bit-identical (spec-pinned on [[DefaultSeed]] and on a
    * hostile-whitespace fixture in LangIdSpec).
    */
  def localCountState(
      spark: SparkSession,
      seed: Seq[(String, String)] = DefaultSeed,
      minN: Int = 1,
      maxN: Int = 3): Classify.NbCountState = {
    require(minN >= 1 && maxN >= minN, s"bad gram range [$minN, $maxN]")
    val counts = new java.util.HashMap[(String, String), Long]()
    val docs = new java.util.HashMap[String, Long]()
    seed.foreach { case (lang, text) =>
      docs.merge(lang, 1L, Long.box(_) + Long.box(_))
      // the charGramFrequencies normalization, replayed exactly:
      // lower → trim(' ' only — Spark's trim, not Java's) → collapse
      // \s+ runs to one space → one boundary space each side
      val lowered =
        if (text == null) "" else text.toLowerCase(java.util.Locale.ROOT)
      val trimmed = {
        var b = 0
        var e = lowered.length
        while (b < e && lowered.charAt(b) == ' ') b += 1
        while (e > b && lowered.charAt(e - 1) == ' ') e -= 1
        lowered.substring(b, e)
      }
      val norm = " " + trimmed.replaceAll("\\s+", " ") + " "
      val cps = norm.codePoints().toArray
      var n = minN
      while (n <= maxN) {
        var i = 0
        val last = cps.length - n
        while (i <= last) {
          val g = new String(cps, i, n)
          counts.merge((lang, g), 1L, Long.box(_) + Long.box(_))
          i += 1
        }
        n += 1
      }
    }
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    Classify.NbCountState(
      counts.asScala.toSeq
        .map { case ((lang, g), c) => (lang, g, c) }
        .sortBy(t => (t._1, t._2))
        .toDF("label", "term", "cnt"),
      docs.asScala.toSeq.sorted.toDF("label", "docs"))
  }

  private val defaultModelCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, Double), Classify.NbModel]()

  /** Session-cached model over [[DefaultSeed]]: trained once per
    * (session, alpha) from the driver-local count state and shared by
    * every caller — the seed is a fixed constant, so the model is too.
    * Do NOT `release()` the returned model: it is shared, and a release
    * frees its lineage cut for every holder (and for later calls, which
    * return the same model), so scoring with it fails afterwards.
    */
  def defaultModel(spark: SparkSession, alpha: Double = 1.0): Classify.NbModel =
    defaultModelCache.computeIfAbsent((spark, alpha),
      _ => Classify.modelFromCounts(localCountState(spark), alpha))

  /** Score `df` against a trained language model: one row per document
    * with `predicted` (ISO-ish code from the seed labels), `score`, and
    * `margin` (log-posterior headroom over the runner-up — the
    * confidence gate; CCNet drops docs under a margin floor). Grams
    * unseen in the seed are ignored (the NB convention), so a document
    * in an unseeded script falls back to priors — uniform seeds make
    * that an alphabetical tie-break, flagged by margin == 0.
    */
  def scoreLanguages(
      df: DataFrame,
      idCol: String,
      textCol: String,
      model: Classify.NbModel,
      minN: Int = 1,
      maxN: Int = 3): DataFrame =
    Classify.scoreNaiveBayes(df, idCol, textCol, model,
      charGramFrequencies(minN, maxN))
}
