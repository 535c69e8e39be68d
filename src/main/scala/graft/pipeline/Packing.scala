package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** GPT-style sequence packing — the final assembly step of a training-data
  * pipeline: all documents are concatenated into one deterministic token
  * stream (id order) and cut into fixed-length training sequences, so a
  * sequence may span several documents and a document may span several
  * sequences (the "concat-and-chunk" convention used to pack web corpora
  * into context windows; contrast [[Chunking]], which windows WITHIN each
  * document and never crosses document boundaries).
  *
  * Definitions (exact, oracle-replayable):
  *  - tokens: whitespace-split, empties dropped ([[TextAnalysis.tokens]] —
  *    the repo's one canonical tokenizer) unless a custom `tokens` column
  *    fn is passed (e.g. [[Bpe.tokensCol]] to pack a learned-tokenizer
  *    stream); null text = zero tokens.
  *  - the stream orders documents by ascending id (ids must be unique and
  *    non-null; null-id rows are dropped). Token `g` of the stream lands
  *    in sequence `g div seqLen`.
  *  - sequence text is the single-space join of its token slice, identical
  *    to joining each contributing document's sub-slice and then joining
  *    the pieces — so the assembled text is a pure function of the stream.
  *  - the trailing partial sequence (fewer than seqLen tokens) is dropped
  *    unless `keepPartial` — training consumers want full windows only.
  *
  * Execution shape (100 TB): the global token offset of each document is
  * NOT a global window (`Window.orderBy` with no partition = one task
  * holding the corpus — the exact plan shape this repo rejects everywhere,
  * see [[Mixing.tokenBudgetSample]] / KLL.exactNumericalDistance): a slim
  * (id, tokenCount) projection range-partitions on both, each partition
  * reports one partial sum (K longs to the driver, K = shuffle
  * partitions), and a second pass over the range-sorted partitions seeds
  * running offsets from the broadcast prefix — no task ever holds more
  * than one range partition. Piece generation is then pure map-side (one HOF
  * `transform` + narrow `explode` per document, at most
  * `nTokens/seqLen + 2` pieces per doc), and assembly is ONE shuffle
  * keyed on `seq_id` — uniformly distributed by construction — whose
  * per-group state is bounded by seqLen structs (every piece carries at
  * least one token), independent of corpus size or document skew.
  *
  * reference capability: none (deequ has no corpus prep); part of the
  * beyond-reference LLM-pipeline family (SURVEY §2 pipeline block).
  */
object Packing {

  /** Per-document stream placement: every non-null-id row of `df` with
    * `n_tokens`, its exclusive global token offset `tok_start` (id
    * order), and — for token-bearing docs — `first_seq` / `last_seq`
    * (the sequences its tokens land in) plus a `crosses` flag marking
    * docs split across a sequence boundary. Zero-token docs carry null
    * seq bounds and `crosses = false`.
    */
  def packStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      seqLen: Int,
      tokens: Column => Column = TextAnalysis.tokens): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val L = lit(seqLen.toLong)
    val nt = col("graft_nt")
    val start = col("graft_start")
    docOffsets(df, idCol, textCol, tokens)
      .select(
        col(idCol),
        nt.as("n_tokens"),
        start.as("tok_start"),
        when(nt > 0, floor(start / L)).as("first_seq"),
        when(nt > 0, floor((start + nt - 1) / L)).as("last_seq"),
        coalesce(
          when(nt > 0, floor(start / L) =!= floor((start + nt - 1) / L)),
          lit(false)).as("crosses"))
  }

  /** The packed sequences: one row per `seq_id` with the assembled
    * `seq_text`, its `n_tokens` (== seqLen except a kept trailing
    * partial) and `n_docs` (documents contributing at least one token).
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      textCol: String,
      seqLen: Int,
      keepPartial: Boolean = false,
      tokens: Column => Column = TextAnalysis.tokens): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val L = lit(seqLen.toLong)
    val off = docOffsets(df, idCol, textCol, tokens).where(col("graft_nt") > 0)
    val docs = df.select(col(idCol), col(textCol)).join(off, Seq(idCol))
    val start = col("graft_start")
    val nt = col("graft_nt")
    // a doc's tokens span sequences floor(start/L) .. floor((start+nt-1)/L);
    // its piece for sequence s is the token sub-slice covering
    // [max(sL, start), min((s+1)L, start+nt)) — pre-joined here so the
    // shuffle carries one string per (doc, seq) instead of token arrays
    val pieces = docs
      .select(
        start, nt,
        tokens(col(textCol)).as("graft_toks"))
      .select(explode(transform(
        sequence(floor(start / L), floor((start + nt - 1) / L)),
        s => {
          val gs = greatest(s * L, start)
          val ge = least((s + 1) * L, start + nt)
          struct(
            s.as("seq_id"),
            gs.as("gstart"),
            (ge - gs).as("len"),
            array_join(
              slice(col("graft_toks"),
                (gs - start + 1).cast(IntegerType),
                (ge - gs).cast(IntegerType)), " ").as("piece"))
        })).as("p"))
      .select(col("p.seq_id"), col("p.gstart"), col("p.len"), col("p.piece"))
    val seqs = pieces
      .groupBy(col("seq_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("gstart"), col("piece")))),
            _.getField("piece")), " ").as("seq_text"),
        sum(col("len")).as("n_tokens"),
        count(lit(1)).as("n_docs"))
    if (keepPartial) seqs else seqs.where(col("n_tokens") === L)
  }

  /** Length-grouped batch shaping: assign every document to one of
    * `nBuckets` equal-frequency token-length buckets (bucket 1 =
    * shortest). Training loaders that pad each batch to its longest
    * member waste `max_len * batch_size - sum_len` pad tokens per batch;
    * drawing batches within length buckets (fairseq/T5-style
    * length-grouped batching) shrinks that waste, and this operator is
    * both the shaper (the bucket assignment) and the audit (see
    * [[paddingWasteStats]]).
    *
    * Bucket assignment is exact `ntile(nBuckets)` ordered by
    * `(n_tokens, id)` — deterministic, oracle-replayable — computed via
    * [[Ranking.groupedNtile]], so the corpus-wide ranking is a range
    * repartition + broadcast prefix offsets, never a single-task sort.
    * Null-id rows are dropped; null/empty text counts zero tokens (an
    * empty example still occupies a batch slot).
    *
    * Returns (`idCol`, `n_tokens`, `bucket`).
    */
  def lengthBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      nBuckets: Int,
      tokens: Column => Column = TextAnalysis.tokens): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val slim = df
      .where(col(idCol).isNotNull)
      .select(
        col(idCol),
        coalesce(size(tokens(col(textCol))).cast(LongType), lit(0L))
          .as("n_tokens"))
      .withColumn("graft_g", lit(1))
    Ranking.groupedNtile(
      slim, "graft_g", Seq("n_tokens", idCol), nBuckets).drop("graft_g")
  }

  /** Per-bucket padding audit over a [[lengthBuckets]] frame: `docs`,
    * `sum_tokens`, `max_len`, and `padding_waste` = the pad tokens spent
    * if every bucket were one padded batch (`max_len * docs -
    * sum_tokens`) — the bucketed counterpart of the single-batch
    * baseline `global_max * total_docs - total_tokens`. One map-side
    * combinable groupBy on the slim assignment frame.
    */
  def paddingWasteStats(bucketed: DataFrame): DataFrame =
    bucketed
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        max(col("n_tokens")).as("max_len"))
      .withColumn("padding_waste",
        col("max_len") * col("docs") - col("sum_tokens"))

  /** Exclusive global token offsets in id order, as
    * (idCol, graft_nt, graft_start): one slim range exchange sorted on
    * (id, tokens), partial sums up and offsets broadcast down
    * ([[Ranking.prefixScan]] with a single implicit group). Rows sharing
    * an id order by token count, so they get the same offsets on every
    * consumption.
    */
  private def docOffsets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tokens: Column => Column = TextAnalysis.tokens): DataFrame = {
    val idField = df.schema(df.schema.fieldIndex(idCol))
    val slim = df
      .where(col(idCol).isNotNull)
      .select(
        col(idCol).as("graft_id"),
        coalesce(size(tokens(col(textCol))).cast(LongType), lit(0L))
          .as("graft_t"))
    val (_, rows) = Ranking.prefixScan(slim, Seq(col("graft_id"), col("graft_t")))(
      it => it.foldLeft(0L)(_ + _.getLong(1)))(
      totals => totals.scanLeft(0L)(_ + _)) { (i, offsets, it) =>
      var running = offsets(i)
      it.map { r =>
        val t = r.getLong(1)
        val out = Row(r.get(0), t, running)
        running += t
        out
      }
    }
    df.sparkSession.createDataFrame(rows, StructType(Seq(
      idField.copy(name = idCol),
      StructField("graft_nt", LongType, nullable = false),
      StructField("graft_start", LongType, nullable = false))))
  }
}
