package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{FrameExpressions, ProtoExpressions, SignatureAggregates, TextExpressions, VectorExpressions}
import graft.model.ProtoDescriptors

/** SQL surface for the engine's custom expressions (SURVEY §4's
  * `SparkSessionExtensions` injection point): everything the Scala Column
  * API exposes is also callable from `spark.sql(...)` on a session whose
  * builder was given
  *
  * {{{
  * builder.withExtensions(new GraftExtensions)                          // code, or
  * builder.config("spark.sql.extensions", "graft.plans.GraftExtensions") // conf
  * }}}
  *
  * so a pure-SQL user of the reference's query surface can run the same
  * pipelines with no Scala. Names are prefixed `graft_` to stay clear of
  * the builtin registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def stringArg(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    def register(name: String, usage: String)(builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.plans.GraftExtensions", null, name, usage, ""),
        builder))

    register("graft_word_shingles",
      "graft_word_shingles(text, k) - word k-shingles of a single-space-tokenized string") {
      args => TextExpressions.WordShingles(args(0), intArg(args(1), "k"))
    }
    register("graft_token_hash",
      "graft_token_hash(s) - engine-portable 62-bit polynomial token hash") {
      args => TextExpressions.PortableTokenHash64(args(0))
    }
    register("graft_normalize",
      "graft_normalize(text, 'NFC'|'NFKC'|'NFD'|'NFKD') - Unicode normalization with the quick-check fast path") {
      args => TextExpressions.NormalizeForm(args(0), stringArg(args(1), "form"))
    }
    register("graft_fix_mojibake",
      "graft_fix_mojibake(text) - exact-test repair of UTF-8 mis-decoded as Latin-1/Windows-1252") {
      args => TextExpressions.FixMojibake(args(0))
    }
    register("graft_html_text",
      "graft_html_text(html) - HTML to text: strip markup, drop script/style/comments, decode entities, block tags to newlines (fail-soft)") {
      args => TextExpressions.HtmlText(args(0))
    }
    register("graft_html_clean",
      "graft_html_clean(html, minWords, ldNum, ldDen, swNum, swDen) - HTML to content text: extract blocks, drop boilerplate by length / link density / stopword density (integer-exact thresholds; English stopword set — use the Scala API for other languages)") {
      args => TextExpressions.HtmlClean(args(0), intArg(args(1), "minWords"),
        intArg(args(2), "ldNum"), intArg(args(3), "ldDen"),
        intArg(args(4), "swNum"), intArg(args(5), "swDen"),
        graft.operators.TextAnalysis.defaultStopwords)
    }
    register("graft_dedup_lines",
      "graft_dedup_lines(text) - intra-document line dedup: keep the first occurrence of every non-empty line, preserve order and paragraph breaks") {
      args => TextExpressions.DedupLines(args(0))
    }
    register("graft_hyperplane_sig",
      "graft_hyperplane_sig(vec, bits, seed) - random-hyperplane LSH signature") {
      args => VectorExpressions.HyperplaneSig(args(0), intArg(args(1), "bits"), intArg(args(2), "seed"))
    }
    register("graft_vec_dot", "graft_vec_dot(a, b) - dot product of numeric arrays") {
      args => VectorExpressions.VecDot(args(0), args(1))
    }
    register("graft_vec_norm", "graft_vec_norm(a) - L2 norm of a numeric array") {
      args => VectorExpressions.VecL2Norm(args(0))
    }
    register("graft_vec_cosine",
      "graft_vec_cosine(a, b) - cosine similarity of numeric arrays (0.0 when either norm is 0)") {
      args => VectorExpressions.VecCosine(args(0), args(1))
    }
    register("graft_topk_by",
      "graft_topk_by(score, id, k) - aggregate: the k best (score desc, id asc) rows as array<struct<id, score>>") {
      args => graft.functions.TopKAggregate.TopKByScoreAgg(
        args(0), args(1), intArg(args(2), "k")).toAggregateExpression()
    }
    register("graft_array_agree_count",
      "graft_array_agree_count(a, b) - positions where two arrays agree") {
      args => VectorExpressions.ArrayAgreeCount(args(0), args(1))
    }
    register("graft_frame_marker", "graft_frame_marker(bytes) - wire-frame type marker") {
      args => FrameExpressions.FrameMarker(args(0))
    }
    register("graft_frame_ts_millis", "graft_frame_ts_millis(bytes) - wire-frame event time") {
      args => FrameExpressions.FrameTsMillis(args(0))
    }
    register("graft_frame_header", "graft_frame_header(bytes) - wire-frame header payload") {
      args => FrameExpressions.FrameHeaderBytes(args(0))
    }
    register("graft_frame_body", "graft_frame_body(bytes) - wire-frame body payload") {
      args => FrameExpressions.FrameBodyBytes(args(0))
    }
    register("graft_proto_decode",
      "graft_proto_decode(bytes, 'EVENT_TYPE'|'HEADER') - typed proto3 decode to a struct") {
      args =>
        val which = stringArg(args(1), "event type")
        val desc =
          if (which == "HEADER") ProtoDescriptors.header
          else ProtoDescriptors.byEventType.getOrElse(which,
            throw new IllegalArgumentException(s"unknown event type $which"))
        ProtoExpressions.ProtoDecode(args(0), desc)
    }
    register("graft_minhash",
      "graft_minhash(hash, n) - aggregate: MinHash signature (n longs) over element hashes") {
      args => SignatureAggregates.MinHashAgg(args(0), intArg(args(1), "n")).toAggregateExpression()
    }
    register("graft_simhash",
      "graft_simhash(hash) - aggregate: 64-bit SimHash over element hashes") {
      args => SignatureAggregates.SimHashAgg(args(0)).toAggregateExpression()
    }
  }
}
