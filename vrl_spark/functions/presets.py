"""Preset-format parsers (reference src/stdlib/parse_{apache,nginx,
syslog,glog,klog,linux_authorization}*.rs) — each is a grok/regex
preset over the same one-pass extraction lowering, plus lightweight
user-agent / etld / tokens parsers.

All presets return a struct column of string captures (coercion is a
separate stage, like the reference where captures are strings)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from vrl_spark.grok import compile_grok
from vrl_spark.functions.parse import grok_chain, parse_regex_onepass

# --- web server logs -------------------------------------------------

COMMON_LOG = compile_grok("%{COMMONAPACHELOG}")
COMBINED_LOG = compile_grok("%{COMBINEDAPACHELOG}")

# nginx error-log preset (parse_nginx_log.rs, format 'error')
NGINX_ERROR = compile_grok(
    r"%{YEAR:year}/%{MONTHNUM:month}/%{MONTHDAY:day} "
    r"%{TIME:time} \[%{LOGLEVEL:severity}\] %{POSINT:pid}#%{NONNEGINT:tid}: "
    r"(?:\*%{NONNEGINT:cid} )?%{GREEDYDATA:message}"
)


def parse_common_log(col: Column) -> Column:
    """src/stdlib/parse_common_log.rs"""
    return parse_regex_onepass(col, COMMON_LOG, anchored=True)


def parse_apache_log(col: Column, format: str = "combined") -> Column:
    """src/stdlib/parse_apache_log.rs — common/combined formats."""
    compiled = {"common": COMMON_LOG, "combined": COMBINED_LOG}[format]
    return parse_regex_onepass(col, compiled, anchored=True)


def parse_nginx_log(col: Column, format: str = "error") -> Column:
    """src/stdlib/parse_nginx_log.rs — combined/error formats."""
    compiled = {"combined": COMBINED_LOG, "error": NGINX_ERROR}[format]
    return parse_regex_onepass(col, compiled, anchored=True)


# --- syslog ----------------------------------------------------------

# RFC 3164: "<PRI>MMM dd HH:MM:SS host tag[pid]: message"
SYSLOG_3164 = compile_grok(
    r"(?:<%{NONNEGINT:pri}>)?%{SYSLOGTIMESTAMP:timestamp} %{NOTSPACE:hostname} "
    r"%{WORD:appname}(?:\[%{POSINT:procid}\])?: %{GREEDYDATA:message}"
)
# RFC 5424: "<PRI>VER TIMESTAMP HOST APP PROCID MSGID SD MSG"
SYSLOG_5424 = compile_grok(
    r"<%{NONNEGINT:pri}>%{POSINT:version} %{TIMESTAMP_ISO8601:timestamp} "
    r"%{NOTSPACE:hostname} %{NOTSPACE:appname} %{NOTSPACE:procid} "
    r"%{NOTSPACE:msgid} (?:-|\[[^\]]*\]) ?%{GREEDYDATA:message}"
)


def _syslog_shape(get) -> Column:
    """parse_syslog output struct from one syslog capture (``get(name)``
    is the Column of capture ``name``), with facility/severity derived
    from PRI (pri = facility*8 + severity)."""
    pri = get("pri").try_cast("long")
    return F.struct(
        *[get(n).alias(n) for n in ("timestamp", "hostname", "appname", "procid", "message")],
        (pri / 8).cast("long").alias("facility_code"),
        (pri % 8).alias("severity_code"),
    )


def parse_syslog(col: Column) -> Column:
    """src/stdlib/parse_syslog.rs — 5424 first, 3164 fallback (the
    reference's syslog_loose behavior). Adds derived facility/severity
    from PRI (pri = facility*8 + severity).

    The fallback regex only runs on rows the 5424 pattern rejects
    (CaseWhen branches evaluate lazily): regex work per row is
    1 + miss_rate, like the weblog parse stage."""
    s5 = parse_regex_onepass(col, SYSLOG_5424, anchored=True)
    s3 = parse_regex_onepass(col, SYSLOG_3164, anchored=True)
    return F.when(s5.isNotNull(), _syslog_shape(s5.getField)).otherwise(
        F.when(s3.isNotNull(), _syslog_shape(s3.getField))
    )


def parse_syslog_stage(df, src: str, out: str = "syslog"):
    """DataFrame-level parse_syslog of the string column named ``src``,
    for wide projections.

    The Column form above embeds BOTH regexes inside one expression;
    projecting k fields from it re-evaluates them k times (Catalyst
    inlines struct extraction — see functions/parse.materialize). This
    variant is a ``grok_chain``: each regex runs through a Generate
    barrier, so the total regex work is 1 + 5424_miss_rate passes per
    row, then the result is shaped from cheap array reads. Same
    output schema as ``parse_syslog``.
    """
    step = grok_chain(df, ["_s5", "_s3"], src, [SYSLOG_5424, SYSLOG_3164])

    def shape(out: str, c):
        return _syslog_shape(lambda n: F.element_at(out, c.group_index(n)))

    parsed = F.when(F.col("_s5").isNotNull(), shape("_s5", SYSLOG_5424)).otherwise(
        F.when(F.col("_s3").isNotNull(), shape("_s3", SYSLOG_3164))
    )
    return step.withColumn(out, parsed).drop("_s5", "_s3")


def parse_linux_authorization(col: Column) -> Column:
    """src/stdlib/parse_linux_authorization.rs — auth.log lines are
    3164 without PRI."""
    return parse_regex_onepass(col, SYSLOG_3164, anchored=True)


# --- google/kubernetes logs ------------------------------------------

# glog: "E0102 15:04:05.067890 123 file.go:42] message"
GLOG = compile_grok(
    r"%{GLOG_LEVEL:level}%{MONTHNUM2:month}%{MONTHDAY2:day} "
    r"%{TIME:time} +%{POSINT:thread_id} %{NOTSPACE:file}:%{POSINT:line}\] "
    r"%{GREEDYDATA:message}"
)


def parse_glog(col: Column) -> Column:
    """src/stdlib/parse_glog.rs"""
    return parse_regex_onepass(col, GLOG, anchored=True)


def parse_klog(col: Column) -> Column:
    """src/stdlib/parse_klog.rs — kubernetes klog == glog format."""
    return parse_regex_onepass(col, GLOG, anchored=True)


# --- user agent (regex-table 'fast' mode) ----------------------------

_UA_BROWSERS = [  # (family, regex with version group)
    ("Edge", r"Edg(?:e|A|iOS)?/(\d+[\d.]*)"),
    ("Opera", r"OPR/(\d+[\d.]*)"),
    ("Chrome", r"Chrome/(\d+[\d.]*)"),
    ("Firefox", r"Firefox/(\d+[\d.]*)"),
    ("Safari", r"Version/(\d+[\d.]*)(?=.*Safari)"),
    ("MSIE", r"MSIE (\d+[\d.]*)"),
    ("curl", r"curl/(\d+[\d.]*)"),
]
_UA_OS = [
    ("Windows", r"Windows NT (\d+[\d.]*)"),
    ("Android", r"Android (\d+[\d.]*)"),
    ("iOS", r"(?:iPhone|iPad).*OS (\d+[_\d]*)"),
    ("macOS", r"Mac OS X (\d+[_\d.]*)"),
    ("Linux", r"(Linux)"),
]
_UA_DEVICES = [
    ("iPhone", r"(iPhone)"), ("iPad", r"(iPad)"),
    ("Android", r"(Android)"), ("Mac", r"(Macintosh)"),
    ("PC", r"(Windows)"), ("Bot", r"([Bb]ot|[Ss]pider|[Cc]rawler)"),
]


def parse_user_agent(col: Column) -> Column:
    """src/stdlib/parse_user_agent.rs 'fast' mode: first-match regex
    tables -> struct{browser_family, browser_version, os_family,
    os_version, device_family}. when-cascades: pure JVM."""

    def cascade(table, version: bool):
        fam, ver = None, None
        for family, pat in table:
            hit = col.rlike(pat)
            fam = (F.when(hit, family) if fam is None else fam.when(hit, family))
            if version:
                v = F.regexp_extract(col, pat, 1)
                ver = (F.when(hit, v) if ver is None else ver.when(hit, v))
        return fam, ver

    bf, bv = cascade(_UA_BROWSERS, True)
    of, ov = cascade(_UA_OS, True)
    df_, _ = cascade(_UA_DEVICES, False)
    return F.struct(
        bf.alias("browser_family"),
        bv.alias("browser_version"),
        of.alias("os_family"),
        F.translate(ov, "_", ".").alias("os_version"),
        df_.alias("device_family"),
    )


# Reliable/enriched user-agent tables. Each entry:
# (family, match_pattern, version_extract_pattern or None,
#  display_version_override_pattern or None)
# Order = first-match precedence (Edge/Opera/Samsung BEFORE Chrome,
# Chrome BEFORE Safari — every Chrome UA also advertises Safari).
_UA_BROWSERS_FULL = [
    ("Opera Mini", r"Opera Mini/(\d+[\d.]*)", r"Version/(\d+[\d.]*)"),
    ("Opera", r"OPR/(\d+[\d.]*)", None),
    ("Opera", r"Opera[/ ](\d+[\d.]*)", r"Version/(\d+[\d.]*)"),
    ("Edge", r"Edg(?:e|A|iOS)?/(\d+[\d.]*)", None),
    ("Samsung Internet", r"SamsungBrowser/(\d+[\d.]*)", None),
    ("UC Browser", r"UCBrowser/(\d+[\d.]*)", None),
    ("Internet Explorer", r"MSIE (\d+[\d.]*)", None),
    ("Internet Explorer", r"Trident/\d[\d.]*.*rv:(\d+[\d.]*)", None),
    ("Yandex Browser", r"YaBrowser/(\d+[\d.]*)", None),
    ("Vivaldi", r"Vivaldi/(\d+[\d.]*)", None),
    ("Brave", r"Brave/(\d+[\d.]*)", None),
    ("Chromium", r"Chromium/(\d+[\d.]*)", None),
    ("Chrome", r"CriOS/(\d+[\d.]*)", None),
    ("Chrome", r"Chrome/(\d+[\d.]*)", None),
    ("Firefox", r"FxiOS/(\d+[\d.]*)", None),
    ("Firefox", r"Firefox/(\d+[\d.]*)", None),
    ("Safari", r"Version/(\d+[\d.]*).*Safari/", None),
    ("Safari", r"Safari/(\d+[\d.]*)", None),
    ("curl", r"curl/(\d+[\d.]*)", None),
    ("wget", r"[Ww]get/(\d+[\d.]*)", None),
    ("python-requests", r"python-requests/(\d+[\d.]*)", None),
    ("Go-http-client", r"Go-http-client/(\d+[\d.]*)", None),
    ("okhttp", r"okhttp/(\d+[\d.]*)", None),
]
_UA_CRAWLERS = (
    r"Googlebot|Bingbot|bingbot|Slurp|DuckDuckBot|Baiduspider|YandexBot|"
    r"Sogou|Exabot|facebookexternalhit|ia_archiver|[Bb]ot/|[Bb]ot;|"
    r"[Cc]rawler|[Ss]pider"
)
# (family, match, version) — NT numbers map to marketing names like
# woothee does (the reference's reliable-mode example: NT 5.1 ->
# family "Windows XP", version "NT 5.1").
_UA_OS_FULL = [
    ("Windows 10", r"Windows (NT 10\.0)", None),
    ("Windows 8.1", r"Windows (NT 6\.3)", None),
    ("Windows 8", r"Windows (NT 6\.2)", None),
    ("Windows 7", r"Windows (NT 6\.1)", None),
    ("Windows Vista", r"Windows (NT 6\.0)", None),
    ("Windows XP", r"Windows (NT 5\.[12])", None),
    ("Windows Phone", r"Windows Phone(?: OS)? (\d+[\d.]*)", None),
    ("Windows", r"Windows (NT \d+[\d.]*)", None),
    ("iOS", r"(?:iPhone|iPad|iPod).*(?:CPU )?(?:iPhone )?OS (\d+[_\d]*)", None),
    ("Android", r"Android[ /](\d+[\d.]*)", None),
    ("Mac OS X", r"Mac OS X (\d+[_\d.]*)", None),
    ("Chrome OS", r"CrOS \S+ (\d+[\d.]*)", None),
    ("FreeBSD", r"(FreeBSD)", None),
    ("Linux", r"(Linux)", None),
]


def parse_user_agent_full(col: Column, mode: str = "reliable") -> Column:
    """src/stdlib/parse_user_agent.rs 'reliable'/'enriched' modes —
    the reference's NESTED schema:

    - reliable: browser{family, version}, device{category},
      os{family, version}
    - enriched: adds browser{major,minor,patch},
      device{brand, family, model}, os{major,minor,patch,patch_minor}

    Implemented as expanded first-match regex tables (the public
    woothee/uap-core classification rules re-expressed), pure JVM
    when-cascades — schema depends only on ``mode``, unparsed fields
    are NULL, matching the reference's contract. Validated against
    the three parse_user_agent.rs example outputs."""
    if mode not in ("reliable", "enriched"):
        raise ValueError(f"invalid parse_user_agent mode {mode!r}")

    bf = bv_raw = bv_disp = None
    for family, pat, override in _UA_BROWSERS_FULL:
        hit = col.rlike(pat)
        raw = F.regexp_extract(col, pat, 1)
        disp = raw
        if override is not None:
            ov = F.regexp_extract(col, override, 1)
            disp = F.when(ov != "", ov).otherwise(raw)
        bf = F.when(hit, family) if bf is None else bf.when(hit, family)
        bv_raw = F.when(hit, raw) if bv_raw is None else bv_raw.when(hit, raw)
        bv_disp = F.when(hit, disp) if bv_disp is None else bv_disp.when(hit, disp)

    of = ov = None
    for family, pat, _ in _UA_OS_FULL:
        hit = col.rlike(pat)
        v = F.translate(F.regexp_extract(col, pat, 1), "_", ".")
        v = F.when(v.rlike(r"\d"), v)  # family-only matches -> null version
        of = F.when(hit, family) if of is None else of.when(hit, family)
        ov = F.when(hit, v) if ov is None else ov.when(hit, v)

    # device-first precedence: an iPhone running Opera Mini over J2ME
    # is a smartphone (the reference's enriched example)
    category = (
        F.when(col.rlike(_UA_CRAWLERS), "crawler")
        .when(col.rlike(r"iPhone|iPad|iPod|Android|Windows Phone"), "smartphone")
        .when(col.rlike(r"J2ME|MIDP|Opera Mini"), "mobilephone")
        .when(col.rlike(r"PlayStation|Nintendo|Xbox|SmartTV|AppleTV"), "appliance")
        .when(col.rlike(r"Windows NT|Macintosh|X11|CrOS|Linux|FreeBSD"), "pc")
        .otherwise(F.lit("misc"))
    )

    if mode == "reliable":
        return F.struct(
            F.struct(bf.alias("family"), bv_disp.alias("version")).alias("browser"),
            F.struct(category.alias("category")).alias("device"),
            F.struct(of.alias("family"), ov.alias("version")).alias("os"),
        )

    def vpart(v: Column, i: int) -> Column:
        p = F.try_element_at(F.split(v, r"\."), F.lit(i))
        return F.when(p != "", p)

    dev_family = (
        F.when(col.rlike(r"iPhone"), "iPhone")
        .when(col.rlike(r"iPad"), "iPad")
        .when(col.rlike(r"iPod"), "iPod")
        .when(col.rlike(r"Macintosh"), "Mac")
        .when(col.rlike(r"SM-[A-Z0-9]+"), F.regexp_extract(col, r"(SM-[A-Z0-9]+)", 1))
        .when(
            col.rlike(r"Android.*; ([^;)]+) Build/"),
            F.regexp_extract(col, r"Android.*; ([^;)]+) Build/", 1),
        )
        .when(col.rlike(r"Windows NT|X11|CrOS"), "Other")
    )
    dev_brand = (
        F.when(col.rlike(r"iPhone|iPad|iPod|Macintosh"), "Apple")
        .when(col.rlike(r"SM-[A-Z0-9]+|Samsung|SAMSUNG"), "Samsung")
        .when(col.rlike(r"Pixel"), "Google")
        .when(col.rlike(r"HUAWEI"), "Huawei")
        .when(col.rlike(r"Xiaomi|Redmi"), "XiaoMi")
    )
    dev_model = (
        F.when(col.rlike(r"iPhone"), "iPhone")
        .when(col.rlike(r"iPad"), "iPad")
        .when(col.rlike(r"iPod"), "iPod")
        .when(col.rlike(r"SM-[A-Z0-9]+"), F.regexp_extract(col, r"(SM-[A-Z0-9]+)", 1))
        .when(
            col.rlike(r"Android.*; ([^;)]+) Build/"),
            F.regexp_extract(col, r"Android.*; ([^;)]+) Build/", 1),
        )
    )
    return F.struct(
        F.struct(
            bf.alias("family"),
            vpart(bv_raw, 1).alias("major"),
            vpart(bv_raw, 2).alias("minor"),
            vpart(bv_raw, 3).alias("patch"),
            bv_disp.alias("version"),
        ).alias("browser"),
        F.struct(
            dev_brand.alias("brand"),
            category.alias("category"),
            dev_family.alias("family"),
            dev_model.alias("model"),
        ).alias("device"),
        F.struct(
            of.alias("family"),
            vpart(ov, 1).alias("major"),
            vpart(ov, 2).alias("minor"),
            vpart(ov, 3).alias("patch"),
            vpart(ov, 4).alias("patch_minor"),
            ov.alias("version"),
        ).alias("os"),
    )


# --- etld / tokens ----------------------------------------------------

# compact public-suffix sample: enough for web pipelines' common TLDs;
# real deployments broadcast the full PSL file as a lookup table.
_MULTI_SUFFIXES = [
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "com.br", "com.cn", "com.mx", "co.in",
    "co.nz", "co.za", "com.sg", "com.tr",
]


def parse_etld(col: Column, plus_parts: int = 0) -> Column:
    """src/stdlib/parse_etld.rs — effective TLD (+N labels) of a
    hostname, using a broadcastable suffix table."""
    multi = None
    for s in _MULTI_SUFFIXES:
        hit = col.endswith("." + s) | (col == s)
        multi = F.when(hit, s) if multi is None else multi.when(hit, s)
    single = F.regexp_extract(col, r"\.([^.]+)$", 1)
    etld = multi.otherwise(F.when(single != "", single))
    if plus_parts > 0:
        # take etld + N preceding labels from the hostname
        n_et = F.size(F.split(etld, r"\."))
        parts = F.split(col, r"\.")
        total = F.size(parts)
        take = F.least(n_et + plus_parts, total)
        etld = F.array_join(
            F.slice(parts, total - take + 1, take), "."
        )
    return etld


# Curated public-suffix rule set (PSL format semantics: plain rules,
# '*.' wildcards, '!' exceptions). Written from the well-known public
# registry structure — a useful default; pass ``psl=`` with the full
# publicsuffix.org file for exact coverage.
_PSL_RULES = """
// ICANN second-level registries (common)
co.uk org.uk ac.uk gov.uk net.uk sch.uk me.uk ltd.uk plc.uk nhs.uk
com.au net.au org.au edu.au gov.au asn.au id.au
co.nz net.nz org.nz govt.nz ac.nz school.nz geek.nz gen.nz maori.nz
co.jp ne.jp or.jp ac.jp go.jp ad.jp ed.jp gr.jp lg.jp
com.br net.br org.br gov.br edu.br art.br blog.br eco.br
co.in net.in org.in firm.in gen.in ind.in ac.in edu.in res.in gov.in nic.in
com.cn net.cn org.cn gov.cn edu.cn ac.cn mil.cn
com.mx org.mx net.mx gob.mx edu.mx
co.za org.za net.za gov.za ac.za web.za nom.za
com.tr net.tr org.tr gov.tr edu.tr k12.tr av.tr bel.tr
com.tw net.tw org.tw edu.tw gov.tw idv.tw
co.kr ne.kr or.kr re.kr go.kr ac.kr pe.kr ms.kr hs.kr es.kr kg.kr mil.kr
com.sg net.sg org.sg edu.sg gov.sg per.sg
com.hk net.hk org.hk edu.hk gov.hk idv.hk
com.my net.my org.my gov.my edu.my mil.my name.my
com.ar net.ar org.ar gob.ar edu.ar int.ar mil.ar musica.ar tur.ar
com.co net.co org.co gov.co edu.co mil.co nom.co
com.pe net.pe org.pe gob.pe edu.pe mil.pe nom.pe
com.ph net.ph org.ph gov.ph edu.ph mil.ph ngo.ph i.ph
com.vn net.vn org.vn gov.vn edu.vn int.vn ac.vn biz.vn info.vn name.vn pro.vn health.vn
co.th in.th or.th ac.th go.th net.th mi.th
com.ua in.ua net.ua org.ua gov.ua edu.ua kiev.ua lviv.ua od.ua
com.pl net.pl org.pl edu.pl gov.pl waw.pl wroc.pl krakow.pl
co.il org.il net.il ac.il gov.il muni.il k12.il idf.il
co.id or.id web.id ac.id go.id net.id sch.id mil.id biz.id my.id
com.ng net.ng org.ng gov.ng edu.ng i.ng mil.ng mobi.ng name.ng sch.ng
co.ke or.ke ne.ke go.ke ac.ke sc.ke me.ke mobi.ke info.ke
com.pk net.pk org.pk gov.pk edu.pk fam.pk biz.pk web.pk gok.pk gop.pk
com.eg net.eg org.eg gov.eg edu.eg eun.eg sci.eg
com.sa net.sa org.sa gov.sa edu.sa med.sa pub.sa sch.sa
com.np org.np net.np edu.np gov.np mil.np
ac.at co.at gv.at or.at
co.hu org.hu
msk.ru spb.ru
// wildcard registries
*.bd *.ck !www.ck *.er *.fk *.mm *.kw
// well-known private suffixes
github.io gitlab.io herokuapp.com appspot.com blogspot.com
s3.amazonaws.com elb.amazonaws.com compute.amazonaws.com
azurewebsites.net cloudapp.net netlify.app vercel.app pages.dev
web.app firebaseapp.com wordpress.com dyndns.org no-ip.org ngrok.io
pythonanywhere.com fastly.net readthedocs.io
"""


def _parse_psl_rules(text: str):
    """PSL text -> (exact_rules, wildcard_bases, exceptions) as sets of
    label-tuples. Handles '//' comments and whitespace; entries in our
    curated block may be space-separated."""
    exact, wild, exc = set(), set(), set()
    for raw_line in text.splitlines():
        line = raw_line.split("//")[0].strip()
        if not line:
            continue
        for rule in line.split():
            rule = rule.strip()
            if not rule:
                continue
            if rule.startswith("!"):
                exc.add(tuple(rule[1:].split(".")))
            elif rule.startswith("*."):
                wild.add(tuple(rule[2:].split(".")))
            else:
                exact.add(tuple(rule.split(".")))
    return exact, wild, exc


def parse_etld_struct(
    col: Column, plus_parts: int = 0, psl: str | None = None
) -> Column:
    """src/stdlib/parse_etld.rs full output shape:
    struct{etld, etld_plus, known_suffix} with real publicsuffix
    matching — longest rule wins, ``*.`` wildcards, ``!`` exceptions
    (exception's suffix = rule minus leftmost label). Unknown TLD
    falls back to the last label with known_suffix=false, exactly the
    psl crate's behavior. ``psl`` loads a publicsuffix.org-format file
    at PLAN BUILD (compile-time, like the reference reading the file
    in compile()); rules broadcast to executors in the UDF closure."""
    if psl is not None:
        with open(psl) as f:
            exact, wild, exc = _parse_psl_rules(f.read())
    else:
        exact, wild, exc = _parse_psl_rules(_PSL_RULES)

    schema = T.StructType(
        [
            T.StructField("etld", T.StringType()),
            T.StructField("etld_plus", T.StringType()),
            T.StructField("known_suffix", T.BooleanType()),
        ]
    )

    @pandas_udf(schema)
    def _etld(s: pd.Series) -> pd.DataFrame:
        def one(host):
            if host is None or host == "":
                return (None, None, None)
            labels = host.lower().rstrip(".").split(".")
            n = len(labels)
            suffix_len, known = 1, False  # prevailing rule '*'
            for k in range(n, 0, -1):  # longest candidate first
                cand = tuple(labels[n - k:])
                if cand in exc:
                    suffix_len, known = k - 1, True
                    break
                if cand in exact:
                    suffix_len, known = k, True
                    break
                if len(cand) >= 2 and cand[1:] in wild:
                    suffix_len, known = k, True
                    break
            etld = ".".join(labels[n - suffix_len:])
            take = min(suffix_len + plus_parts, n)
            etld_plus = ".".join(labels[n - take:])
            return (etld, etld_plus, known)

        out = pd.DataFrame(
            [one(v) for v in s], columns=["etld", "etld_plus", "known_suffix"]
        )
        return out

    return _etld(col)


def parse_tokens(col: Column) -> Column:
    """src/stdlib/parse_tokens.rs — split a log line into tokens:
    quoted strings and [bracketed] groups stay single tokens."""
    toks = F.regexp_extract_all(
        col, F.lit(r'"[^"]*"|\[[^\]]*\]|\S+'), 0
    )
    return F.transform(
        toks,
        lambda t: F.when(t.rlike(r'^".*"$|^\[.*\]$'),
                         F.substring(t, 2, F.length(t) - 2)).otherwise(t),
    )


# --- CEF (src/stdlib/parse_cef.rs) ------------------------------------

CEF = compile_grok(
    r"CEF:%{NONNEGINT:cef_version}\|%{CEF_FIELD:device_vendor}\|"
    r"%{CEF_FIELD:device_product}\|%{CEF_FIELD:device_version}\|"
    r"%{CEF_FIELD:signature_id}\|%{CEF_FIELD:name}\|%{CEF_FIELD:severity}\|"
    r"%{GREEDYDATA:extension}"
)


def parse_cef(col: Column) -> Column:
    """ArcSight CEF header -> struct; the extension tail is kv-parsed
    separately (parse_key_value) per the reference's two-layer shape."""
    return parse_regex_onepass(col, CEF, anchored=True)


def parse_cef_extension(col: Column) -> Column:
    """CEF extension 'k=v k2=v2' tail -> map."""
    from vrl_spark.functions.parse import parse_key_value_native

    return parse_key_value_native(parse_cef(col).getField("extension"))


# --- AWS ALB access log (src/stdlib/parse_aws_alb_log.rs) -------------

AWS_ALB = compile_grok(
    r'%{NOTSPACE:type} %{TIMESTAMP_ISO8601:timestamp} %{NOTSPACE:elb} '
    r'%{NOTSPACE:client_host} %{NOTSPACE:target_host} '
    r'%{NUMBER:request_processing_time} %{NUMBER:target_processing_time} '
    r'%{NUMBER:response_processing_time} %{NOTSPACE:elb_status_code} '
    r'%{NOTSPACE:target_status_code} %{NONNEGINT:received_bytes} '
    r'%{NONNEGINT:sent_bytes} "%{DATA:request_method} %{DATA:request_url} '
    r'%{DATA:request_protocol}" "%{DATA:user_agent}" %{NOTSPACE:ssl_cipher} '
    r'%{NOTSPACE:ssl_protocol} %{NOTSPACE:target_group_arn} '
    r'"%{DATA:trace_id}"%{GREEDYDATA:rest}'
)


def parse_aws_alb_log(col: Column) -> Column:
    """AWS ALB access log line -> struct of string captures."""
    return parse_regex_onepass(col, AWS_ALB, anchored=True)


# --- AWS VPC flow logs (src/stdlib/parse_aws_vpc_flow_log.rs) ---------

AWS_VPC_FLOW = compile_grok(
    r"%{NONNEGINT:version} %{NOTSPACE:account_id} %{NOTSPACE:interface_id} "
    r"%{NOTSPACE:srcaddr} %{NOTSPACE:dstaddr} %{NOTSPACE:srcport} "
    r"%{NOTSPACE:dstport} %{NOTSPACE:protocol} %{NOTSPACE:packets} "
    r"%{NOTSPACE:bytes} %{NONNEGINT:start} %{NONNEGINT:end} "
    r"%{NOTSPACE:action} %{NOTSPACE:log_status}"
)


def parse_aws_vpc_flow_log(col: Column) -> Column:
    """Default-format VPC flow log line -> struct ('-' fields stay
    strings; coercion is a separate stage)."""
    return parse_regex_onepass(col, AWS_VPC_FLOW, anchored=True)


def parse_aws_cloudwatch_log_subscription_message(col: Column) -> Column:
    """CloudWatch Logs subscription payload (JSON) -> typed struct
    (src/stdlib/parse_aws_cloudwatch_log_subscription_message.rs)."""
    schema = (
        "owner string, logGroup string, logStream string, "
        "subscriptionFilters array<string>, messageType string, "
        "logEvents array<struct<id:string, timestamp:long, message:string>>"
    )
    return F.from_json(col, schema)


# --- InfluxDB line protocol (src/stdlib/parse_influxdb.rs) ------------


def parse_influxdb(col: Column) -> Column:
    """'measurement,tag=v field=1i,other="x" 1556813561098000000'
    -> struct{measurement, tags map, fields map, timestamp long}.

    Unescaped-comma/space grammar (the overwhelmingly common case);
    escaped separators need the vectorized lane."""
    head = F.regexp_extract(col, r"^(\S+) ", 1)
    measurement = F.substring_index(head, ",", 1)
    # tags: everything after the first comma in the head token
    tags_str = F.when(
        head.contains(","),
        F.regexp_replace(head, r"^[^,]*,", ""),
    )
    fields_str = F.regexp_extract(col, r"^\S+ (.*?)(?: \d+)?$", 1)
    ts = F.regexp_extract(col, r" (\d+)$", 1).try_cast("long")
    tags = F.when(
        tags_str.isNotNull(), F.str_to_map(tags_str, F.lit(","), F.lit("="))
    )
    fields_raw = F.str_to_map(fields_str, F.lit(","), F.lit("="))
    # strip quotes from string field values; keep numeric suffixes raw
    fields = F.transform_values(
        fields_raw,
        lambda _, v: F.when(
            v.rlike('^".*"$'), F.substring(v, 2, F.length(v) - 2)
        ).otherwise(v),
    )
    ok = col.rlike(r"^\S+ \S")
    return F.when(
        ok,
        F.struct(
            measurement.alias("measurement"),
            tags.alias("tags"),
            fields.alias("fields"),
            ts.alias("timestamp"),
        ),
    )
