"""Deterministic synthetic web-page generator (templates + ground truth).

Pure functions (no wall-clock, no network, no randomness beyond the
seeded integer hash) mapping url_index -> (url, archetype, html,
outlinks, ground-truth fields). The archetypes mirror the reference's
page classes (FIXTURES.md §1):

  auto_config  ⇠ Crawler4Autohome.getAutoInfo   (…/crawler/auto/Crawler4Autohome.java:143-260)
  auto_user    ⇠ Crawler4Autohome.getUserInfo   (Crawler4Autohome.java:262-432)
  bbs_post     ⇠ Crawler4Iiyi.visitBBSPage      (…/crawler/ms/Crawler4Iiyi.java:86-193)
  dealer_list  ⇠ Crawler4Autohome.getDealerInfo (Crawler4Autohome.java:489-537)
  ec_product   ⇠ Crawler4Jingdong.getProductInfo(…/crawler/ec/Crawler4Jingdong.java:239-333)
  article      ⇠ Crawler4Dxy.visitBBSPage       (…/crawler/ms/Crawler4Dxy.java:88-165)
  tour_detail  ⇠ Crawler4Tuniu.getToursInfo     (…/crawler/tour/Crawler4Tuniu.java:110-207)
  news_article ⇠ textclassify Crawler4Sina      (…/crawler/textclassify/Crawler4Sina.java:83-109)
  json_api     ⇠ JSONP payloads                 (Crawler4Jingdong.java:409-515)

The host distribution is Zipf-like (a few hot hosts) to exercise host
skew in the host-hash partitioned crawl state and per-host admission.
"""

from __future__ import annotations

import json
from datetime import datetime, timedelta, timezone

EPOCH_BASE = datetime(2016, 8, 1, tzinfo=timezone.utc)

ARCHETYPES = [
    "auto_config", "auto_user", "bbs_post", "dealer_list", "ec_product",
    "article", "tour_detail", "news_article", "json_api",
    # round 2: the non-Autohome auto-site suites + the Zhishiku wiki
    #   zhishiku     ⇠ Crawler4Zhishiku.visitBBSPage (…/crawler/ms/Crawler4Zhishiku.java:87-231)
    #   bitauto_car  ⇠ Crawler4BitAuto detail tables (…/crawler/auto/Crawler4BitAuto.java:360-530)
    #   bitauto_user ⇠ Crawler4BitAuto user garage   (Crawler4BitAuto.java:140-315)
    #   souhu_car    ⇠ Crawler4Autosouhu li scan     (…/crawler/auto/Crawler4Autosouhu.java:255-295)
    #   pcauto_user  ⇠ Crawler4PCAuto user pages     (…/crawler/auto/Crawler4PCAuto.java:328-507)
    #   pcauto_car   ⇠ Crawler4PCAuto.getAutoInfo  (Crawler4PCAuto.java:144-290)
    #   haodf_article⇠ Crawler4Haodf.parseExpertArticles (…/crawler/medcine/Crawler4Haodf.java:62-166)
    "zhishiku", "bitauto_car", "bitauto_user", "souhu_car", "pcauto_user",
    "pcauto_car", "haodf_article",
]

_LEVELS = ["紧凑型车", "中型车", "中大型车", "SUV", "MPV"]
_CITIES = ["北京", "上海", "广州", "深圳", "成都", "杭州", "武汉", "西安"]
_BRANDS = ["大众", "丰田", "本田", "福特", "宝马"]
_SHOPS = ["旗舰店", "自营", "专卖店"]
_ROUTE_SPANS = [("i-zjy", "自助游"), ("i-gny", "跟团游"), ("i-zyx", "自驾游")]
_NEWS_CATS = [
    ("0101", "sports"), ("0102", "finance"), ("0103", "tech"), ("0104", "ent"),
]


def _mix(x: int) -> int:
    """splitmix64 finalizer — the deterministic 'randomness' source."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def n_hosts_for(n_urls: int) -> int:
    return max(64, n_urls // 200)


def host_for(idx: int, n_urls: int) -> str:
    """Zipf-skewed host assignment: density ∝ 1/(h+1)."""
    nh = n_hosts_for(n_urls)
    u = (_mix(idx) % (1 << 32)) / float(1 << 32)
    h = int(nh ** u) - 1
    return f"h{max(0, min(h, nh - 1))}.example.com"


def archetype_for(idx: int) -> str:
    return ARCHETYPES[_mix(idx ^ 0xA5C3) % len(ARCHETYPES)]


def url_for(idx: int, n_urls: int) -> str:
    arch = archetype_for(idx)
    return f"http://{host_for(idx, n_urls)}/{arch}/{idx}.html"


def warc_ts_for(idx: int) -> datetime:
    return EPOCH_BASE + timedelta(seconds=idx)


def lang_for(idx: int) -> str:
    return "en" if idx % 10 == 7 else "zh"


def outlinks_for(idx: int, n_urls: int) -> list[str]:
    if archetype_for(idx) == "json_api":
        return []
    k = 3 + (_mix(idx ^ 0x17) % 18)
    targets = []
    seen = set()
    for j in range(k):
        t = (idx * 31 + 7 * j + 1 + (_mix(idx + j) % 97)) % n_urls
        if t != idx and t not in seen:
            seen.add(t)
            targets.append(t)
    return [url_for(t, n_urls) for t in targets]


def _links_html(idx: int, n_urls: int) -> str:
    links = outlinks_for(idx, n_urls)
    items = "".join(f'<a href="{u}">link{j}</a> ' for j, u in enumerate(links))
    return f'<div class="links">{items}</div>'


# ---------------------------------------------------------------------------
# Page-weight boilerplate: Common-Crawl-style pages average tens of KB of
# nav/footer/content filler, and extraction cost at 100 TB is dominated by
# parsing that weight. The pool is built once (deterministic, seeded by the
# word tables);每 page picks paragraphs by _mix so pages are 15-60 KB with a
# ~35 KB mean. Class names are bp-* only — no extractor selector matches
# them, so ground-truth fields are unchanged.

_WORDS_ZH = "内容 数据 系统 分析 处理 网络 信息 技术 平台 服务 用户 文章 评论 发布 时间".split()
_WORDS_EN = "the data web page crawl index search rank host link text node parse".split()


def _build_paragraph(i: int) -> str:
    w = []
    for j in range(70):
        h = _mix(i * 131 + j)
        w.append(_WORDS_ZH[h % len(_WORDS_ZH)] if (h >> 8) % 3 else _WORDS_EN[h % len(_WORDS_EN)])
    return '<p class="bp-par">' + " ".join(w) + "。</p>"


_PARA_POOL = [_build_paragraph(i) for i in range(64)]
_NAV_BLOCK = (
    '<div class="bp-nav">'
    + "".join(f'<a href="/bp-nav/{i}.html">栏目{i}</a> ' for i in range(8))
    + "</div>"
)
_FOOTER_BLOCK = (
    '<div class="bp-footer"><a href="/bp-about.html">关于</a> '
    '<a href="/bp-contact.html">联系</a> © 2016 example.com</div>'
)


def _boilerplate(idx: int) -> str:
    n_par = 30 + _mix(idx ^ 0xB0) % 70
    paras = "".join(_PARA_POOL[_mix(idx * 977 + p) % len(_PARA_POOL)] for p in range(n_par))
    return f'{_NAV_BLOCK}<div class="bp-main">{paras}</div>{_FOOTER_BLOCK}'


# ---------------------------------------------------------------------------
# per-archetype builders: each returns (html, fields) where fields is the
# ground-truth dict the extractor must reproduce byte-for-byte.


def _auto_config(idx: int) -> tuple[str, dict]:
    series = 1000 + idx % 5000
    name = f"车系{series}"
    n_specs = 1 + _mix(idx ^ 0x31) % 3
    paramitems = []
    specs = [20000 + idx * 10 + s for s in range(n_specs)]
    fieldvals = {
        "车型名称": [f"{name} 2016款 {s}型" for s in specs],
        "厂商指导价(元)": [f"{8 + (s % 30)}.{s % 10}万" for s in specs],
        "级别": [_LEVELS[s % len(_LEVELS)] for s in specs],
        "发动机": [f"{1 + s % 3}.{(s % 2) * 5}T {100 + s % 150}马力" for s in specs],
        "变速箱": ["6挡手自一体" if s % 2 else "5挡手动" for s in specs],
        "长*宽*高(mm)": [f"{4500 + s % 500}*{1800 + s % 100}*{1400 + s % 200}" for s in specs],
        "车身结构": ["三厢" if s % 2 else "两厢" for s in specs],
        "最高车速(km/h)": [str(170 + s % 80) for s in specs],
        "工信部综合油耗(L/100km)": [f"{5 + s % 5}.{s % 10}" for s in specs],
    }
    for pname, vals in fieldvals.items():
        paramitems.append({
            "name": pname,
            "valueitems": [
                {"specid": specs[i], "value": vals[i]} for i in range(n_specs)
            ],
        })
    config = {"result": {"seriesid": series, "paramtypeitems": [{"paramitems": paramitems}]}}
    cfg_json = json.dumps(config, ensure_ascii=False, separators=(",", ":"))
    html = (
        "<html><head><title>参数配置</title></head><body>"
        f'<div class="subnav-title-name"><a href="/s/{series}/">{name}参数配置</a></div>'
        f"<script>var config = {cfg_json};</script>"
        "{LINKS}</body></html>"
    )
    rows = []
    for i, s in enumerate(specs):
        rows.append({
            "rowkey": f"0003NNNN_{series}_{s}",
            "name": name,
            "style": fieldvals["车型名称"][i],
            "price": fieldvals["厂商指导价(元)"][i],
            "level": fieldvals["级别"][i],
            "engine": fieldvals["发动机"][i],
            "gearbox": fieldvals["变速箱"][i],
            "size": fieldvals["长*宽*高(mm)"][i],
            "struct": fieldvals["车身结构"][i],
            "speed": fieldvals["最高车速(km/h)"][i],
            "fuel": fieldvals["工信部综合油耗(L/100km)"][i],
        })
    return html, {"rows": rows}


def _auto_user(idx: int) -> tuple[str, dict]:
    uid = 100000 + idx
    name = f"用户{uid}"
    sex = "男" if idx % 3 else "女"
    city = _CITIES[idx % len(_CITIES)]
    nfollow = _mix(idx ^ 0x55) % 5
    follow_ids = sorted({str(1000 + (_mix(idx + j) % 9000)) for j in range(nfollow)})
    lis = "".join(f'<li uid="{i}">u{i}</li>' for i in follow_ids)
    html = (
        "<html><body>"
        f'<div id="divuserinfo"><p>昵称:{name}</p><p>性别:{sex}</p><p>城市:{city}</p></div>'
        f'<div id="dynamic"><span class="subdyn2">{len(follow_ids)}</span></div>'
        f'<ul id="ulList">{lis}</ul>'
        "{LINKS}</body></html>"
    )
    fields = {
        "rowkey": f"0003NNNN_{uid}",
        "name": name,
        "sex": "0" if "男" in sex else "1",
        "city": city,
        "following": ",".join(follow_ids),
        "followers": str(len(follow_ids)),
    }
    return html, fields


def _bbs_post(idx: int) -> tuple[str, dict]:
    uid = 200000 + idx
    # yyyy-M-d H:m:s with non-padded fields to exercise C8 normalization;
    # every 6th post is from LAST year → the current-year gate drops it
    # (Crawler4Autohome.java:443-445, CURRENT_YEAR ≙ the corpus epoch year)
    year = 2015 if idx % 6 == 5 else 2016
    month = 1 + idx % 12
    day = 1 + idx % 28
    hour = idx % 24
    minute = idx % 60
    date_str = f"{year}-{month}-{day} {hour}:{minute}:{idx % 60}"
    title = f"帖子标题{idx}"
    content = f"帖子内容 正文第{idx}段。 这是更多的内容文字。"
    bbs_id = f"bbs{idx % 50}"
    bbs_name = f"论坛{idx % 50}"
    # title div fallback (Crawler4Autohome.java:472-474): div.maxtitle
    # normally, div.qa-maxtitle on Q&A-style posts
    title_div = (
        f'<div class="qa-maxtitle">{title}</div>'
        if idx % 3 == 1
        else f'<div class="maxtitle">{title}</div>'
    )
    html = (
        "<html><body>"
        f'<a id="a_bbsname" href="/{bbs_id}/">{bbs_name}</a>'
        f"{title_div}"
        f'<div id="F0" uid="{uid}"><span xname="date">{date_str}</span>'
        f'<div class="conttxt">{content}</div></div>'
        "{LINKS}</body></html>"
    )
    if year != 2016:
        return html, {"rows": []}
    compact = (
        f"2016{month:02d}{day:02d}{hour:02d}{minute:02d}{idx % 60:02d}"
    )
    fields = {
        "rowkey": f"0003NNNN_{uid}_{compact}",
        "bbs_id": bbs_id,
        "bbs_name": bbs_name,
        "post_id": str(idx),
        "post_title": title,
        "post_content": content,
        "post_date": date_str,
    }
    return html, fields


def _dealer_list(idx: int) -> tuple[str, dict]:
    n = 1 + _mix(idx ^ 0x77) % 4
    dealers, anchors, data = [], [], []
    for j in range(n):
        did = 5000 + idx * 10 + j
        name = f"经销商{did}"
        brand = _BRANDS[(idx + j) % len(_BRANDS)]
        lat = f"{30 + (did % 1000) / 100.0:.2f}"
        lon = f"{110 + (did % 2000) / 100.0:.2f}"
        addr = f"{_CITIES[(idx + j) % len(_CITIES)]}大道{did}号"
        data.append({"url": f"/dealer/{did}/", "latlon": f"{lat},{lon}"})
        anchors.append(
            f'<a class="btn-map" js-did="{did}" js-dname="{name}" '
            f'js-dbrand="{brand}" js-daddr="{addr}" href="/dealer/{did}/">地图</a>'
        )
        dealers.append({
            "rowkey": f"00030005_{did}",
            "name": name, "brand": brand, "address": addr,
            "latlon": f"{lat},{lon}",
        })
    data_json = json.dumps(data, ensure_ascii=False, separators=(",", ":"))
    html = (
        "<html><body>"
        f"<script>var data={data_json};</script>"
        f'<div class="dealer-cont">{"".join(anchors)}</div>'
        "{LINKS}</body></html>"
    )
    return html, {"rows": dealers}


def _ec_product(idx: int) -> tuple[str, dict]:
    code = 400000 + idx
    brand = _BRANDS[idx % len(_BRANDS)]
    pname = f"商品{code}"
    shop = f"{brand}{_SHOPS[idx % len(_SHOPS)]}"
    display = f"{brand} {pname} 官方正品"
    crumbs = ["家用电器", f"分类{idx % 20}", f"子类{idx % 60}"]
    crumb_html = "".join(f'<a href="/c/{i}">{c}</a>&gt;' for i, c in enumerate(crumbs))
    html = (
        "<html><body>"
        f'<div class="crumb">{crumb_html}</div>'
        f'<div class="sku-name">{display}</div>'
        f'<ul id="parameter-brand"><li><a href="/b/{brand}">{brand}</a></li></ul>'
        '<ul class="p-parameter-list">'
        f'<li title="{pname}">商品名称：{pname}</li>'
        f'<li title="{code}">商品编号：{code}</li>'
        f'<li title="{shop}">店铺： {shop}</li>'
        "</ul>"
        "{LINKS}</body></html>"
    )
    fields = {
        "rowkey": f"00040008_{code}",
        "product_brand": brand,
        "product_name": pname,
        "product_code": str(code),
        "shopname": shop,
        "displayname": display,
        "classifications": ",".join(crumbs),
    }
    return html, fields


def _article(idx: int) -> tuple[str, dict]:
    aid = 600000 + idx
    title = f"文章标题{idx}"
    author = f"作者{idx % 100}"
    content = f"文章正文{idx}。 包含若干句子，用于测试抽取。"
    # exercise C7 date completion incl. the 1970-00-00 sentinel
    variant = idx % 4
    if variant == 0:
        raw_date = f"2016-0{1 + idx % 9}-1{idx % 10} 12:30:45"
        completed = raw_date
    elif variant == 1:
        raw_date = f"2016-0{1 + idx % 9}-1{idx % 10} 12:30"
        completed = raw_date + ":00"
    elif variant == 2:
        raw_date = f"2016-0{1 + idx % 9}-1{idx % 10}"
        completed = raw_date + " 00:00:00"
    else:
        raw_date = ""
        completed = "1970-00-00 00:00:00"
    html = (
        "<html><body>"
        f'<div class="title">{title}</div>'
        f'<div class="post-time">{raw_date}</div>'
        f'<div class="author">{author}</div>'
        f'<div class="content">{content}</div>'
        "{LINKS}</body></html>"
    )
    fields = {
        "rowkey": f"00480592001_{aid}",
        "article_title": title,
        "article_auther": author,  # reference's spelling (c_cec_article)
        "article_content": content,
        "article_time": completed,
    }
    return html, fields


def _tour_detail(idx: int) -> tuple[str, dict]:
    tno = 700000 + idx
    name = f"线路{tno}"
    span_cls, rtype = _ROUTE_SPANS[idx % len(_ROUTE_SPANS)]
    if idx % 2 == 0:  # layout A
        body = (
            f'<div class="resource-con"><h1>{name}</h1>'
            f'<span class="{span_cls}">t</span></div>'
        )
    else:  # layout B
        body = (
            f'<div class="tour-title"><h2>{name}</h2></div>'
            f'<div class="tour-tags"><span class="{span_cls}">t</span></div>'
        )
    html = "<html><body>" + body + "{LINKS}</body></html>"
    fields = {
        "rowkey": f"00100032_{tno}",
        "route_name": name,
        "route_type": rtype,
    }
    return html, fields


def _news_article(idx: int) -> tuple[str, dict]:
    cat_code, cat = _NEWS_CATS[idx % len(_NEWS_CATS)]
    title = f"新闻标题{idx}"
    content = f"新闻内容{idx}。 详细报道正文。"
    tv = idx % 3
    if tv == 0:
        tdiv = f'<h1 id="artibodyTitle">{title}</h1>'
    elif tv == 1:
        tdiv = f'<h1 id="main_title">{title}</h1>'
    else:
        tdiv = f'<h1 class="news-title">{title}</h1>'
    cdiv = (
        f'<div id="artibody">{content}</div>'
        if idx % 2 == 0
        else f'<div id="articleContent">{content}</div>'
    )
    html = "<html><body>" + tdiv + cdiv + "{LINKS}</body></html>"
    fields = {"category": cat_code, "title": title, "content": content}
    return html, fields


def _json_api(idx: int) -> tuple[str, dict]:
    payload = {
        "data": [
            {
                "stockid": f"{600000 + idx % 4000}",
                "stockname": f"股票{idx % 4000}",
                "stockplate": ["沪市", "深市", "创业板", "中小板"][idx % 4],
            }
        ]
    }
    body = f"jQuery{1000 + idx % 9000}(" + json.dumps(
        payload, ensure_ascii=False, separators=(",", ":")
    ) + ");"
    html = body  # raw JSONP body, no html wrapper
    d = payload["data"][0]
    fields = {
        "rowkey": f"00150107_{d['stockid']}",
        "stockid": d["stockid"],
        "stockname": d["stockname"],
        "stockplate": d["stockplate"],
    }
    return html, fields


def _zhishiku(idx: int) -> tuple[str, dict]:
    """C24/C21 — Crawler4Zhishiku.visitBBSPage
    (…/crawler/ms/Crawler4Zhishiku.java:87-231): section fold via
    split('<hr>'), '<br>'→'&&' rewrite, fragment reparse, colon split that
    DROPS third+ parts, per-item '"'→\"'\" quote swap, nested map →
    compact JSON (insertion order = our deterministic stand-in for
    fastjson's HashMap order), plain-fragment-overwrites-map quirk.
    The kw→name dictionary gate (ConfigUtil.getByKey) is modeled by
    oracle.zhishiku_dict; page-miss marker '未能找到该词条' is replicated."""
    from dmp_crawler_spark.extractors.htmlmini import jsoup_text
    from dmp_crawler_spark.extractors.oracle import zhishiku_dict

    kw = f"zk{800000 + idx}"
    if zhishiku_dict(kw) == "":
        html = "<html><body><div>词条未登记</div>{LINKS}</body></html>"
        return html, {"rows": []}
    if idx % 17 == 0:
        html = "<html><body>未能找到该词条{LINKS}</body></html>"
        return html, {"rows": []}
    title = f"词条{idx}"
    summary_name = f"概述{idx % 5}"
    srows = [(f"属性{j}", f'值"{idx}-{j}"') for j in range(2 + idx % 3)]
    stage_title = f"段落{idx % 7}"
    frag_kv = f'疗法{idx % 4}:方一"{idx}"<br>方二{idx}<br>方三'
    variant = idx % 3
    if variant == 0:
        frags = [frag_kv]                    # map value survives
    elif variant == 1:
        frags = [frag_kv, f'纯文"{idx}"段']  # plain fragment overwrites map
    else:
        frags = [f"多段:甲{idx}:乙", frag_kv]  # 3-way colon: '乙' dropped
    body_html = "<hr>".join(frags)
    trs = "".join(f"<tr><td>{k}</td><td>{v}</td></tr>" for k, v in srows)
    html = (
        '<html><body><div id="title"><div><div>'
        f"<h1><font>{title}</font></h1>"
        "<font>"
        f"<div><h4>{summary_name}</h4>"
        f"<table><tbody>{trs}</tbody></table></div>"
        '<div class="panel panel-default">'
        f'<div><div class="panel-heading"><strong>{stage_title}</strong></div></div>'
        f'<div><div class="panel-body">{body_html}</div></div>'
        "</div>"
        "</font>"
        "</div></div></div>{LINKS}</body></html>"
    )
    # ground truth mirrors the extractor's fold exactly
    info_map: dict = {summary_name: {k: v.replace('"', "'") for k, v in srows}}
    stage_map: dict = {}
    for frag in body_html.split("<hr>"):
        text = jsoup_text(frag.replace("<br>", "&&"))
        parts = text.split(":")
        if len(parts) > 1:
            stage_map[parts[0]] = [v.replace('"', "'") for v in parts[1].split("&&")]
            info_map[stage_title] = stage_map
        else:
            info_map[stage_title] = parts[0].replace('"', "'")
    content = json.dumps(info_map, ensure_ascii=False, separators=(",", ":"))
    time = (EPOCH_BASE + timedelta(seconds=idx)).strftime("%Y%m%d%H%M%S")
    fields = {
        "rowkey": kw,
        "article_title": title,
        "article_content": content,
        "article_url": f"http://www.example.com/wiki/baike/search?kw={zhishiku_dict(kw)}",
        "article_time": time,
    }
    return html, fields


def _bitauto_car(idx: int) -> tuple[str, dict]:
    """Crawler4BitAuto detail page — label-th → nextElementSibling td walk
    over two spec tables + size assembly chang-kuan-gao with ''-holes
    (…/crawler/auto/Crawler4BitAuto.java:360-530). Selectors are our
    synthetic-site equivalents of the nth-child chains."""
    brand = f"b{idx % 40}"
    car_id = 310000 + idx
    name = f"比亚车系{idx % 300}"
    style = f"{name} 201{4 + idx % 3}款"
    price = f"{8 + idx % 30}.{idx % 10}万"
    perf: list[tuple[str, str]] = []
    speed = fuel = pqa = gearbox = ""
    if idx % 4 != 1:
        speed = f"{150 + idx % 100}km/h"
        perf.append(("最高车速", speed))
    if idx % 3 != 2:
        fuel = f"{5 + idx % 5}.{idx % 10}L"
        perf.append(("综合工况油耗", fuel))
    if idx % 5 != 3:
        pqa = f"{2 + idx % 3}年或{6 + idx % 6}万公里"
        perf.append(("保修政策", pqa))
    if idx % 2 == 0:
        gearbox = ["手动", "自动", "双离合"][idx % 3]
        perf.append(("变速箱", gearbox))
    perf.append((f"其他参数{idx % 9}", "忽略值"))  # unmatched label, walked over
    dims: list[tuple[str, str]] = []
    chang = kuan = gao = ""
    if idx % 3 != 0:
        chang = str(4200 + idx % 700)
        dims.append(("长", chang))
    if idx % 4 != 2:
        kuan = str(1700 + idx % 200)
        dims.append(("宽", kuan))
    if idx % 5 != 4:
        gao = str(1400 + idx % 300)
        dims.append(("高", gao))
    size = f"{chang}-{kuan}-{gao}"

    def rows(tbl: list[tuple[str, str]]) -> str:
        return "".join(f"<tr><th>{k}</th><td>{v}</td></tr>" for k, v in tbl)

    html = (
        "<html><body>"
        f'<h3 class="car-name"><a>{name}</a></h3>'
        f'<div id="car-pop">{style}</div>'
        f'<div id="jiaGeDetail"><span><em>{price}</em></span></div>'
        '<div id="DicCarParameter"><div class="car_config car_top_set">'
        f'<table class="perf"><tbody>{rows(perf)}</tbody></table>'
        f'<table class="dims"><tbody>{rows(dims)}</tbody></table>'
        "</div></div>"
        "{LINKS}</body></html>"
    )
    fields = {
        "rowkey": f"00030006_{brand}_{car_id}",
        "name": name,
        "style": style,
        "price": price,
        "fuel": fuel,
        "size": size,
        "gearbox": gearbox,
        "speed": speed,
        "pqa": pqa,
    }
    return html, fields


def _bitauto_user(idx: int) -> tuple[str, dict]:
    """Crawler4BitAuto user garage — carId(type) list formatting including
    the observable String-'==' bug (…/crawler/auto/Crawler4BitAuto.java:
    160-295): flag is always false, so each put REPLACES the type list and
    every car ends with exactly one type — the LAST section it appears in
    (3=driving, 2=followed, 4=planned). Section anchors use span[href] so
    the synthetic garage links never enter frontier discovery."""
    user_id = 420000 + idx
    nickname = f"车友{idx % 1000}"
    city = f"城市{idx % 30}"
    level = str(1 + idx % 9)
    driving = [f"s{(idx * 7 + j) % 23}" for j in range(idx % 3)]
    follow = [f"s{(idx * 11 + j) % 23}" for j in range((idx + 1) % 3)]
    plan = [f"s{(idx * 13 + j) % 23}" for j in range((idx + 2) % 3)]
    cars: dict[str, int] = {}
    for cid in driving:
        cars[cid] = 3
    for cid in follow:
        # the follow regex captures only the numeric tail (nb(\d+)), so the
        # extractor's key space drops the series prefix — mirror that
        cars[cid[1:]] = 2
    for cid in plan:
        cars[cid] = 4
    user_car = ",".join(f"{cid}({t})" for cid, t in cars.items())

    def sec(cls: str, hrefs: list[str]) -> str:
        spans = "".join(f'<span class="car-link" href="{h}"></span>' for h in hrefs)
        return f'<div class="{cls}">{spans}</div>'

    html = (
        "<html><body>"
        f'<div id="avatar_title"><strong>{nickname}</strong></div>'
        f'<ul class="his-infor"><li>等级：{level}</li><li>地区：{city}</li></ul>'
        + sec("aiche_box", [f"http://car.bitauto.com/{c}/m{100 + j}" for j, c in enumerate(driving)])
        + sec("guanzhucar_box", [f"http://dealer.bitauto.com/zuidijia/nb{c[1:]}/leads_source=0" for c in follow])
        + sec("plan_box", [f"http://car.bitauto.com/{c}/m{200 + j}/" for j, c in enumerate(plan)])
        + "{LINKS}</body></html>"
    )
    fields = {
        "rowkey": f"00030006_{user_id}",
        "nickname": nickname,
        "city": city,
        "level": level,
        "user_car": user_car,
    }
    return html, fields


def _souhu_car(idx: int) -> tuple[str, dict]:
    """Crawler4Autosouhu detail page — label-matched <li> scan with
    contains() + regexpExtract('label：(.*)')
    (…/crawler/auto/Crawler4Autosouhu.java:255-295)."""
    brand = f"b{idx % 40}"
    car_id = 510000 + idx
    name = f"搜狐车{idx % 200}"
    style = f"{name} 201{4 + idx % 3}款"
    price = f"{9 + idx % 25}.{idx % 10}万"
    lis: list[str] = []
    fuel = pqa = gearbox = size = ""
    if idx % 3 != 1:
        fuel = f"{5 + idx % 4}.{idx % 10}L/100km"
        lis.append(f"工信部综合油耗：{fuel}")
    if idx % 4 != 2:
        pqa = f"{2 + idx % 4}年或{8 + idx % 5}万公里"
        lis.append(f"保修政策：{pqa}")
    if idx % 5 != 3:
        gearbox = ["手动", "自动", "无级变速"][idx % 3]
        lis.append(f"变速箱：{gearbox}")
    if idx % 2 == 0:
        size = f"{4300 + idx % 600}*{1700 + idx % 200}*{1400 + idx % 250}"
        lis.append(f"车身尺寸：{size}")
    lis.append(f"排量：{1 + idx % 3}.{idx % 10}L")  # unmatched label, ignored
    li_html = "".join(f"<li>{t}</li>" for t in lis)
    html = (
        "<html><body>"
        f'<div class="top_tit"><a class="series">{name}</a></div>'
        f'<div id="carType">{style}</div>'
        '<div class="carInfos"><div class="r">'
        f'<div class="price-box"><a><font>{price}</font></a></div>'
        f"<ul>{li_html}</ul>"
        "</div></div>"
        "{LINKS}</body></html>"
    )
    fields = {
        "rowkey": f"00030106_{brand}_{car_id}",
        "name": name,
        "style": style,
        "price": price,
        "fuel": fuel,
        "pqa": pqa,
        "gearbox": gearbox,
        "size": size,
    }
    return html, fields


def _pcauto_user(idx: int) -> tuple[str, dict]:
    """Crawler4PCAuto user pages incl. the observable null-rowkey quirk
    (…/crawler/auto/Crawler4PCAuto.java:328-507,461-476): follow/fan pages
    never initialize rowKey, so their rows land under a NULL rowkey; the
    unconditional buy_info='' insert rides along on every page type."""
    sub = idx % 3
    user_id = 620000 + (idx // 3)
    if sub == 0:
        if idx % 19 == 0:
            # digitless profile href → regexpExtract('(\\d*)') yields '' →
            # the reference returns before inserting anything
            html = (
                '<html><body><div id="her-index">'
                '<a href="http://my.pcauto.com.cn/none/#p">主页</a>'
                "</div>{LINKS}</body></html>"
            )
            return html, {"rows": []}
        gender_txt = "她的主页" if idx % 2 == 0 else "他的主页"
        sex = "1" if "她" in gender_txt else "0"
        name = f"用户{user_id}"
        area = f"地区{idx % 30}"
        birth = f"19{70 + idx % 30}-0{1 + idx % 9}-1{idx % 10}"
        car_id = str(730000 + idx % 5000)
        html = (
            "<html><body>"
            f'<div id="her-index"><a href="http://my.pcauto.com.cn/{user_id}/#p">{gender_txt}</a></div>'
            '<div class="user-info clearfix"><div class="user-con">'
            f"<span>用户:{name}</span><span>地区:{area}</span><span>生日:{birth}</span>"
            "</div></div>"
            f'<a id="carAttr{car_id}" href="#car"></a>'
            "{LINKS}</body></html>"
        )
        fields = {
            "rowkey": f"00030104_{user_id}",
            "sex": sex,
            "name": name,
            "city": area,
            "birthday": birth,
            "cars": car_id,
            "nickname": "",
            "level": "",
            "vip": "",
            "buy_info": "",
        }
        return html, fields
    kind = "follow" if sub == 1 else "fan"
    n_friends = 1 + idx % 4
    friends = [str(540000 + (idx * 3 + j) % 9000) for j in range(n_friends)]
    inputs = "".join(f'<input class="accountId" value="{f}">' for f in friends)
    html = (
        "<html><body>"
        '<div class="news"><div>'
        f'<a class="current" href="http://my.pcauto.com.cn/{user_id}/{kind}#nav">{kind}</a>'
        "</div></div>"
        f"{inputs}"
        "{LINKS}</body></html>"
    )
    col = "following" if kind == "follow" else "followers"
    fields = {
        "rowkey": None,
        col: ",".join(friends),
        "buy_info": "",
    }
    return html, fields


def _haodf_article(idx: int) -> tuple[str, dict]:
    """Crawler4Haodf.parseExpertArticles (…/crawler/medcine/Crawler4Haodf.
    java:62-166): per-field sentinel defaults (未知分类/未知标题/…) when a
    selector misses, a failure-tag log accumulating '[No …]' markers (the
    reference's sink IS this debug log — no HBase/Solr write), jsoup
    [attr!=val] selectors for the pub-time span, and the reference's
    copy-paste bug where a missing pub time logs '[No title]' (:109-111)."""
    has_cat = idx % 5 != 0
    has_title = idx % 7 != 0
    has_time = idx % 9 != 0
    has_writer = idx % 11 != 0
    has_pv = has_writer and idx % 13 != 0
    has_content = idx % 17 != 0
    cat = f"分类{idx % 8}"
    title = f"专家文章{idx}"
    ptime = f"2016-0{1 + idx % 9}-1{idx % 10}"
    writer = f"医生{idx % 50}"
    pv = str(100 + idx % 900)
    content = f"医学科普内容{idx}。 详细说明文字。"
    meta = []
    if has_time:
        meta.append(f'<span class="pub">{ptime}</span>')
    if has_writer:
        inner = f"<a>{writer}</a>" + (f"<font>{pv}</font>" if has_pv else "")
        meta.append(f'<span class="ml20">{inner}</span>')
    html = (
        "<html><body>"
        + (f'<div class="bg_w mb20"><p class="art_detail_cate">{cat}</p></div>'
           if has_cat else '<div class="bg_w mb20"></div>')
        + (f'<h1 class="fn"><p>{title}</p></h1>' if has_title else "")
        + f'<p class="pb20 gray2 tc pt5 fs">{"".join(meta)}</p>'
        + (f'<div class="article_detail">{content}</div>' if has_content else "")
        + "{LINKS}</body></html>"
    )
    missing = []
    if not has_cat:
        missing.append("[No category]")
    if not has_title:
        missing.append("[No title]")
    if not has_time:
        missing.append("[No title]")  # reference bug: pub-time miss logs [No title]
    if not has_writer:
        missing.append("[No article writer]")
    if not has_pv:
        missing.append("[No articlePV]")
    if not has_content:
        missing.append("[No content]")
    fields = {
        "rowkey": None,  # the reference never forms a rowkey (log-only sink)
        "category": cat if has_cat else "未知分类",
        "title": title if has_title else "未知标题",
        "pub_time": ptime if has_time else "未知时间",
        "writer": writer if has_writer else "未知作者",
        "pv": pv if has_pv else "未知次数",
        "content": content if has_content else "未知内容",
        "missing": ",".join(missing),
    }
    return html, fields


_PCAUTO_ITEMS = [
    ("车型名称", "style"), ("级别", "level"), ("厂商指导价(元)", "price"),
    ("最高车速(km/h)", "speed"), ("工信部综合油耗(L/100km)", "fuel"),
    ("长×宽×高(mm)", "size"), ("车体结构", "struct"), ("整车质保", "pqa"),
    ("发动机", "engine"), ("变速箱", "gearbox"),
]


def _pcauto_car(idx: int) -> tuple[str, dict]:
    """Crawler4PCAuto.getAutoInfo (…/crawler/auto/Crawler4PCAuto.java:
    144-290): breadcrumb serial id (regexpExtract '/sg(\\d*)/' on the LAST
    anchor), `var config` script JSON, per-autoId keyed multi-row assembly
    across Name-switched items (A5), C12 万-extract on price. Every 11th
    page has no breadcrumb: serialId stays '' and rowkeys come out
    '00030104__mXX' (observable reference behavior — no guard)."""
    serial = 2000 + idx % 400
    n_models = 1 + idx % 3
    ids = [f"m{serial}{j}" for j in range(n_models)]
    has_crumb = idx % 11 != 0
    sid = str(serial) if has_crumb else ""

    def vals(col: str, j: int) -> str:
        if col == "style":
            return f"系列{serial} 201{4 + j % 3}款 {j}"
        if col == "level":
            return _LEVELS[(idx + j) % len(_LEVELS)]
        if col == "price":
            # every 4th page uses a non-万 price → C12 extract yields ''
            return "面议" if idx % 4 == 0 else f"{8 + (idx + j) % 30}.{(idx + j) % 100:02d}万"
        if col == "speed":
            return str(150 + (idx + j) % 100)
        if col == "fuel":
            return f"{5 + (idx + j) % 5}.{(idx + j) % 10}"
        if col == "size":
            return f"{4200 + idx % 700}×{1700 + idx % 200}×{1400 + idx % 300}"
        if col == "struct":
            return ["三厢车", "两厢车", "SUV"][(idx + j) % 3]
        if col == "pqa":
            return f"{2 + j % 3}年或{6 + j % 6}万公里"
        if col == "engine":
            return f"{1 + (idx + j) % 3}.{(idx + j) % 10}T"
        return ["手动", "自动", "双离合"][(idx + j) % 3]

    # vary which items the page carries (style/level/price always present)
    present = [
        (name, col) for i, (name, col) in enumerate(_PCAUTO_ITEMS)
        if i < 3 or (idx + i) % 3 != 0
    ]
    items = [
        {
            "Name": name,
            "ModelExcessIds": [
                {"Id": mid_, "Value": vals(col, j)} for j, mid_ in enumerate(ids)
            ],
        }
        for name, col in present
    ]
    config = json.dumps({"body": {"items": items}}, ensure_ascii=False)
    html = (
        "<html><body>"
        '<div class="position"><div class="pos-mark">'
        '<a href="/auto/#home">首页</a>'
        + (f'<a href="/sg{serial}/#pos">系列{serial}</a>' if has_crumb else "")
        + "</div></div>"
        f"<script>var config = {config};</script>"
        "{LINKS}</body></html>"
    )
    # ground truth mirrors insertData accumulation: rowkey first-insertion
    # order (= the style item's ModelExcessIds order), cols per item order
    rows = []
    by_key: dict[str, dict] = {}
    for name, col in present:
        for j, mid_ in enumerate(ids):
            rk = f"00030104_{sid}_{mid_}"
            if rk not in by_key:
                by_key[rk] = {"rowkey": rk}
                rows.append(by_key[rk])
            v = vals(col, j)
            if col == "price":
                import re as _re

                m = _re.search(r"([.\d]*)万", v)
                v = m.group(1).strip() if m else ""
            by_key[rk][col] = v
    return html, {"rows": rows}


def build_weixin_page(biz: str, mid: str, idx: str, sn: str,
                      empty_code: bool = False) -> str:
    """Deterministic weixin article page matching doReatableParse's
    selectors (…/crawler/social/worker/WXEntityImporter.java:368-378).
    empty_code=True models a blocked/placeholder page: weixinCode comes
    back '' and the importer must write nothing."""
    seed = f"{biz}:{mid}:{idx}:{sn}"
    h = _mix(sum(ord(c) for c in seed))
    code = "" if empty_code else f"wx_{h % 100000}"
    code_span = f'<span class="profile_meta_value">{code}</span>'
    return (
        "<html><body>"
        f'<h2 id="activity-name">文章{h % 1000}</h2>'
        f'<em id="post-date">2016-0{1 + h % 9}-1{h % 10}</em>'
        f'<div id="js_content">正文{seed}内容。</div>'
        '<div id="js_profile_qrcode">'
        f'<strong class="profile_nickname">公众号{h % 500}</strong>'
        f"{code_span}"
        f'<span class="profile_meta_value">简介{h % 700}</span>'
        "</div>"
        "</body></html>"
    )


_BUILDERS = {
    "auto_config": _auto_config,
    "auto_user": _auto_user,
    "bbs_post": _bbs_post,
    "dealer_list": _dealer_list,
    "ec_product": _ec_product,
    "article": _article,
    "tour_detail": _tour_detail,
    "news_article": _news_article,
    "json_api": _json_api,
    "zhishiku": _zhishiku,
    "bitauto_car": _bitauto_car,
    "bitauto_user": _bitauto_user,
    "souhu_car": _souhu_car,
    "pcauto_user": _pcauto_user,
    "pcauto_car": _pcauto_car,
    "haodf_article": _haodf_article,
}


def build_page(idx: int, n_urls: int) -> dict:
    """Full page record: url, warc_ts, html(bytes), text, lang + ground truth."""
    from dmp_crawler_spark.extractors.htmlmini import jsoup_text

    arch = archetype_for(idx)
    html, fields = _BUILDERS[arch](idx)
    html = html.replace("{LINKS}", _links_html(idx, n_urls) + _boilerplate(idx))
    text = jsoup_text(html) if arch != "json_api" else ""
    return {
        "url": url_for(idx, n_urls),
        "warc_ts": warc_ts_for(idx),
        "html": html.encode("utf-8"),
        # the decoded form, for in-worker consumers (the fused fetch pass
        # parses the page it just built — the utf-8 encode→decode round
        # trip on a 30-100KB page is two avoidable validate+copy passes)
        "html_str": html,
        "text": text,
        "lang": lang_for(idx),
        "archetype": arch,
        "fields": fields,
    }
