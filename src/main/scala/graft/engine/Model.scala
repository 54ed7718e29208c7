package graft.engine

/** Spark-facing row types (product encoders; everything nests as
  * struct/array columns per SURVEY.md §1.2 — never RDDs, never dense
  * matrices).
  */
final case class PageSlim(url: String, html: Array[Byte], lang: String)

final case class LineOut(text: String, box: Seq[Int])

final case class KvOut(key: String, value: String, keyBox: Seq[Int], valueBox: Seq[Int])

final case class PairOut(head: Int, tail: Int)

final case class MultiOut(head: Int, tails: Seq[Int])

/** One decoded document: the engine's output row. `bucket` is the
  * deterministic resume/write unit (url-hash), `host` is [[Pipeline.hostOf]].
  */
final case class DocOut(
    url: String,
    host: String,
    lang: String,
    bucket: Int,
    nTokens: Int,
    nLines: Int,
    nKv: Int,
    kernelUs: Long, // wall micros spent in the extract kernel for this doc
    text: String,
    lines: Seq[LineOut],
    kv: Seq[KvOut],
    lineExtraction: Seq[PairOut],
    entHead: Seq[MultiOut],
    entTail: Seq[MultiOut],
    groupHead: Seq[PairOut],
    groupTail: Seq[PairOut]
)

/** Per-bucket lineage row enabling checkpoint-resume (SURVEY.md §2 A8):
  * buckets are deterministic functions of url, and the ledger of these
  * rows is the commit of `Pipeline.runFrom`'s decoded files: a file counts
  * exactly when its buckets are listed here, finished buckets are skipped
  * by anti-join, and a resume deletes files whose buckets are not listed.
  * `wallMs` is the summed kernel wall time of the bucket's docs (SURVEY
  * §4.2 side-output), giving per-bucket cost attribution for free.
  */
final case class LineageRow(
    bucket: Int,
    nDocs: Long,
    nTokens: Long,
    nKv: Long,
    wallMs: Long,
    status: String
)

/** One per-sample TP/FP/FN record (reference `--save_eval_detail` ->
  * detail.json, run_rfund.py:294-300 / evaluation.py:72-93).
  */
final case class DetailRow(
    url: String,
    granularity: String,
    verdict: String, // TP | FP | FN
    item: String
)

/** Per-document six-granularity metric counts (evaluation.py:391-413). */
final case class MetricRow(
    url: String,
    kvPred: Long, kvGt: Long, kvCorrect: Long,
    linePred: Long, lineGt: Long, lineCorrect: Long,
    entHeadPred: Long, entHeadGt: Long, entHeadCorrect: Long,
    entTailPred: Long, entTailGt: Long, entTailCorrect: Long,
    groupHeadPred: Long, groupHeadGt: Long, groupHeadCorrect: Long,
    groupTailPred: Long, groupTailGt: Long, groupTailCorrect: Long
)
