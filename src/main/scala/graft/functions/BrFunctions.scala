package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Column-expression library replicating the reference's row-wise
  * Python cleaning functions (SURVEY.md §2.8 / §2.12) as pure,
  * codegen-friendly `Column` compositions — no Scala closures in the
  * hot path, so every function stays inside whole-stage codegen and
  * scales with the scan.
  *
  * Reference evidence cited per function (paths relative to
  * /root/reference).
  */
object BrFunctions {

  /** BR currency parse: `"R$ 1.234,56"` → decimal(15,2).
    * Strips currency sign + spaces; the thousands-dot removal and
    * comma→dot swap apply ONLY when a comma is present — matching the
    * reference branch exactly (`if ',' in s:` …), which keeps plain
    * `"1234.56"` parsing as dot-decimal. Empty / non-numeric → null.
    * Ref: `ETL - Faturamento B2B.py:86-110`, `ETL - Cadastro SR.py:5-15`. */
  def parseBrlMoney(c: Column): Column = {
    val s = regexp_replace(trim(c), "[R$\\s]", "")
    val brStyle = regexp_replace(regexp_replace(s, "\\.", ""), ",", ".")
    val cleaned = when(s.contains(","), brStyle).otherwise(s)
    nullif(cleaned, lit("")).cast(DecimalType(15, 2))
  }

  /** Mixed-separator money parse, branch-exact with the reference
    * (`ETL - Primeiro Pedido.py:51-76`): both separators present and
    * comma LAST → BR style (strip dots, comma→dot); both present and
    * dot last (US style) → the reference leaves the string untouched
    * and `float()` fails → null; comma only → decimal comma; else
    * parse as-is (dot-decimal). */
  def parseMoneyLenient(c: Column): Column = {
    val s = regexp_replace(trim(c), "[R$\\s]", "")
    val brStyle = regexp_replace(regexp_replace(s, "\\.", ""), ",", ".")
    val hasComma = s.contains(",")
    val hasDot = s.contains(".")
    val lastCommaPos = length(s) - instr(reverse(s), ",")
    val lastDotPos = length(s) - instr(reverse(s), ".")
    val normalized =
      when(hasComma && hasDot && lastCommaPos < lastDotPos, lit(null))
        .when(hasComma && hasDot, brStyle)
        .when(hasComma, regexp_replace(s, ",", "."))
        .otherwise(s)
    nullif(normalized, lit("")).cast(DecimalType(15, 2))
  }

  /** Keep digits only → nullable long (IDs, order numbers).
    * Ref: `ETL - Venda B2B.py:58-77`. */
  def cleanDigitsLong(c: Column): Column =
    nullif(regexp_replace(c.cast("string"), "[^0-9]", ""), lit("")).cast("long")

  /** Keep digits only → string, preserving leading zeros (CNPJ/CPF/CEP/phone).
    * Ref: `ETL - CRM.py:41-53`, `ETL - Primeiro Pedido.py:184-187`. */
  def cleanDigitsStr(c: Column): Column =
    nullif(regexp_replace(c.cast("string"), "[^0-9]", ""), lit(""))

  /** trim + upper normalization used for every key/text match.
    * Ref: `ETL - CRM.py:35-38`; SQL `UPPER(TRIM())` throughout. */
  def normalizeText(c: Column): Column = upper(trim(c))

  /** Null-propagating composite `CITY|UF` key.
    * Ref: `ETL - CRM.py:55-60`. */
  def cityUfKey(city: Column, uf: Column): Column =
    when(city.isNull || uf.isNull, lit(null))
      .otherwise(concat_ws("|", normalizeText(city), normalizeText(uf)))

  /** pt-BR month names, locale-independent literal map (SURVEY §7.4
    * risk 1). Ref: `Algoritmo de Estruturação de Dados.py:346-383`,
    * `SMT_Reparos_MoM.sql:14-17`. */
  val monthsPt: Seq[String] = Seq(
    "JANEIRO", "FEVEREIRO", "MARÇO", "ABRIL", "MAIO", "JUNHO",
    "JULHO", "AGOSTO", "SETEMBRO", "OUTUBRO", "NOVEMBRO", "DEZEMBRO")

  /** month number (1-12) → pt-BR name. */
  def monthNamePt(monthNum: Column): Column =
    element_at(array(monthsPt.map(lit): _*), monthNum.cast("int"))

  /** pt-BR name → month number (1-12); null when unknown. */
  def monthNumberPt(name: Column): Column =
    nullif(array_position(array(monthsPt.map(lit): _*), normalizeText(name)), lit(0L))
      .cast("int")

  /** pt-BR weekday names indexed by MySQL DAYOFWEEK (1=Domingo…7=Sábado),
    * locale-independent literal ladder.
    * Ref: `Códigos Úteis SQL/Cálculo Vendido por Semana.sql:3-12`. */
  val weekdaysPt: Seq[String] = Seq("Domingo", "Segunda-Feira", "Terça-Feira",
    "Quarta-Feira", "Quinta-Feira", "Sexta-Feira", "Sábado")

  /** date/timestamp → pt-BR weekday name ('Data Desconhecida' on null,
    * the ladder's ELSE). Spark's `dayofweek` is 1=Sunday like MySQL's. */
  def diaSemanaPt(d: Column): Column =
    coalesce(element_at(array(weekdaysPt.map(lit): _*), dayofweek(d)),
      lit("Data Desconhecida"))

  /** "Semana N" week-of-month label, formula-exact with the reference
    * (`Algoritmo de Estruturação de Dados.py:288-306`): days before the
    * month's first MONDAY are "Semana 0"; from the first Monday on,
    * weeks number 1, 2, … (`weekday` is Mon=0 like Python's). */
  def weekOfMonthLabel(d: Column): Column = {
    val firstDowMon0 = weekday(trunc(d, "MM"))
    val firstMondayDom = pmod(lit(7) - firstDowMon0, lit(7)) + 1
    val sem = when(dayofmonth(d) < firstMondayDom, lit(0))
      .otherwise(floor((dayofmonth(d) - firstMondayDom) / 7).cast("int") + 1)
    concat(lit("Semana "), sem.cast("int"))
  }

  /** `N Trimestre YYYY` quarter label.
    * Ref: `Algoritmo de Estruturação de Dados.py:399-400`. */
  def quarterLabel(d: Column): Column =
    concat(quarter(d).cast("string"), lit(" Trimestre "), year(d).cast("string"))

  /** Display BRL: `R$ 1.234,56` — numeric twin must be kept alongside
    * (reference sorts on the numeric twin, `vw_Inadimplencia_Base.sql:34-37`).
    * Ref: `ETL - Cadastro SR.py:17-19`. */
  def formatBrl(c: Column): Column = {
    val us = format_number(c.cast(DecimalType(18, 2)), 2) // 1,234.56
    val swapped = translate(us, ",.", ".,")               // 1.234,56
    concat(lit("R$ "), swapped)
  }

  /** `'12.34%'` → decimal. Ref: `vw_inadimplencia_alertas.sql:10-11`. */
  def percentParse(c: Column): Column =
    nullif(trim(regexp_replace(c, "%", "")), lit("")).cast(DecimalType(10, 4))

  /** NULLIF-guarded division. Spark already yields null on decimal /0;
    * this guards double paths too. Ref: `PROD_Produtividade_FPY.sql:25`. */
  def safeDiv(num: Column, den: Column): Column =
    when(den.isNull || den === 0, lit(null)).otherwise(num / den)

  /** Seconds → zero-padded `HH:MM:SS` lead-time string (hours may
    * exceed 24). Ref: `SLA de Produção - Completo.sql:158-161`. */
  def leadTimeHms(seconds: Column): Column = {
    val s = seconds.cast("long")
    format_string("%02d:%02d:%02d",
      (s / 3600).cast("long"), ((s % 3600) / 60).cast("long"), (s % 60).cast("long"))
  }

  /** Sim/Não → 0/1 int, branch-exact with the reference
    * (`ETL - Painel de Oportunidades.py:174-209`): upper-case WITHOUT
    * trim (the reference uses `.str.upper()` only); SIM/TRUE/1 → 1;
    * NÃO/FALSE/0/'' → 0 (empty counts as Não); anything else coerces
    * to numeric, truncated to int, defaulting to 0 — nulls included
    * (`fillna(0)`). */
  def simNaoToInt(c: Column): Column = {
    val t = upper(c.cast("string"))
    when(c.isNull, lit(0))
      .when(t.isin("SIM", "TRUE", "1"), lit(1))
      .when(t.isin("NÃO", "FALSE", "0", ""), lit(0))
      .otherwise(coalesce(t.try_cast("double"), lit(0.0)).cast("int"))
  }

  /** Substring classification ladder (`LIKE '%ATIVO%'` CASE).
    * Ref: `CTE - Check de Integridade e Balanço Ativo-Passivo.sql:6-10`. */
  def classifyContains(c: Column, rules: Seq[(String, String)], default: String): Column =
    rules.foldRight(lit(default): Column) { case ((needle, label), acc) =>
      when(normalizeText(c).contains(needle), lit(label)).otherwise(acc)
    }

  /** CNPJ display format `NN.NNN.NNN/NNNN-NN`.
    * Ref: `cnpj_core.py:42-46`. */
  def formatCnpj(c: Column): Column = {
    val d = lpad(cleanDigitsStr(c), 14, "0")
    concat(
      substring(d, 1, 2), lit("."), substring(d, 3, 3), lit("."),
      substring(d, 6, 3), lit("/"), substring(d, 9, 4), lit("-"),
      substring(d, 13, 2))
  }

  /** CNPJ check-digit validation (mod-11 weighted DV over digits
    * 1-12 then 1-13; all-same-digit rejected). Pure Column expression
    * (unrolled — 14 fixed positions), no UDF, codegen-friendly.
    * Ref: `cnpj_core.py:18-39`. */
  def isValidCnpj(c: Column): Column = {
    val d = cleanDigitsStr(c)
    def digit(i: Int): Column = substring(d, i, 1).cast("int")
    val w1 = Seq(5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2)
    val w2 = Seq(6, 5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2)
    def dv(weights: Seq[Int]): Column = {
      val sum = weights.zipWithIndex
        .map { case (w, i) => digit(i + 1) * lit(w) }
        .reduce(_ + _)
      val r = sum % 11
      when(r < 2, lit(0)).otherwise(lit(11) - r)
    }
    val notRepeated = !(d === repeat(substring(d, 1, 1), 14))
    (length(d) === 14) && notRepeated &&
      (digit(13) === dv(w1)) && (digit(14) === dv(w2))
  }
}
