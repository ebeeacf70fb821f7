package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** The bounded HTML walks of sources/Html.scala as kernels: one
  * static call per row inside the enclosing WholeStageCodegen span
  * (built in Kernels). */
object HtmlTextKernel {
  /** Visible text (tag strip, script/style/comment drop, entity
    * decode, ASCII whitespace collapse) — the column the crawl chain
    * composes through: WARC entity body → html text →
    * quality/chunk/dedup. */
  def graft_html_text(s: UTF8String): UTF8String =
    UTF8String.fromString(graft.sources.Html.extractText(s.toString))

  /** Raw outlink candidates (href/src values) of one page, as
    * columnar ArrayData — the discover step of the crawl loop, feeding
    * `explode` + `graft_url_resolve` + `graft_url_canon`. */
  def graft_html_links(s: UTF8String): ArrayData = {
    val ls = graft.sources.Html.extractLinks(s.toString)
    val out = new Array[AnyRef](ls.length)
    var i = 0
    while (i < ls.length) { out(i) = UTF8String.fromString(ls(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** `(href \t anchor_text)` rows of one page — the link-context
    * walk (sources/Html.extractAnchors). */
  def graft_link_anchors(s: UTF8String): ArrayData = {
    val as = graft.sources.Html.extractAnchors(s.toString)
    val out = new Array[AnyRef](as.length)
    var i = 0
    while (i < as.length) {
      out(i) = UTF8String.fromString(as(i)._1 + "\t" + as(i)._2); i += 1
    }
    new GenericArrayData(out)
  }
}
