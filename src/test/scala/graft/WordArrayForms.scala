package graft

import graft.textops.TextAnalysis._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Word-array reference forms of the language guess and the Gopher
  * verdict: each metric is its own higher-order pass over the
  * non-empty words. WordStatsSpec pins the word-stats forms
  * (`langGuessFromStats`, `gopherKeepFromStats`) to these.
  */
object WordArrayForms {

  def langGuessFromWords(ws: Column): Column = {
    val en = round(stopRatio(ws, EnStop), 6)
    val pt = round(stopRatio(ws, PtStop), 6)
    when(en > pt, lit("en")).when(pt > en, lit("pt")).otherwise(lit("und"))
  }

  def gopherKeepFromWords(text: Column, ws: Column): Column = {
    val nw = size(ws).cast("double")
    val chars = aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double")
    val awl = round(when(nw === 0, lit(0.0)).otherwise(chars / nw), 6)
    val nHash = (length(text) - length(replace(text, lit("#"), lit("")))).cast("double")
    val nEll = (length(text) - length(replace(text, lit("..."), lit("")))).cast("double") / 3.0
    val symbolRatio = when(nw === 0, lit(0.0)).otherwise(round((nHash + nEll) / nw, 6))
    val alphaFrac = when(nw === 0, lit(0.0)).otherwise(
      round(size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("double") / nw, 6))
    val nStop = size(filter(ws, w => w.isin(EnStop: _*)))
    awl >= MeanWordLenMin && awl <= MeanWordLenMax &&
      symbolRatio <= SymbolRatioMax && alphaFrac >= AlphaWordFracMin &&
      nStop >= MinStopwords
  }

  def stopRatio(ws: Column, stop: Seq[String]): Column = {
    val n = size(ws)
    when(n === 0, lit(0.0))
      .otherwise(size(filter(ws, w => w.isin(stop: _*))).cast("double") / n.cast("double"))
  }
}
