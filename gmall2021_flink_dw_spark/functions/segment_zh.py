"""Deterministic Chinese word segmentation (SURVEY §2.11 D1).

The reference's keyword pipeline runs IKAnalyzer Chinese segmentation
(KeywordUtil.java:13-35) inside a Flink UDTF (SplitFunction.java:13-31).
IK's core algorithm is dictionary-driven maximum matching; this module
re-implements that publicly-documented algorithm — forward maximum
matching (FMM) over a vendored dictionary — so the pipeline segments
Chinese search keywords deterministically with zero external deps.
It is the only segmenter tokenize_udf uses, and the golden tests pin
its output.

Scale note: the dictionary is a frozen in-process set (~100 KB) — it
ships with the package zip to every executor; segmentation is pure
per-row CPU inside an Arrow-batched pandas UDF, no shuffle, no state.
"""

from __future__ import annotations

import re

from gmall2021_flink_dw_spark.functions.zh_lexicon import GENERAL_ZH

# Domain dictionary: e-commerce / search / web-log vocabulary of the
# reference's domain (gmall is a retail demo: search keywords are phone
# brands, appliance categories, marketing phrases). The general lexicon
# (~3.2k high-frequency words, functions/zh_lexicon.py) covers ordinary
# news/social text so out-of-domain sentences segment into words, not
# characters. Longest-match wins; single characters never need listing
# (unmatched chars emit as themselves).
_DOMAIN_ZH = frozenset(
    {
        # brands / products
        "小米", "手机", "苹果", "华为", "荣耀", "三星", "联想", "电脑",
        "笔记本", "平板", "电视", "冰箱", "洗衣机", "空调", "耳机",
        "充电器", "充电宝", "数据线", "摄像头", "键盘", "鼠标", "显示器",
        "路由器", "音箱", "手表", "手环", "相机", "口红", "香水", "面膜",
        "洗面奶", "牙膏", "毛巾", "衣服", "裤子", "鞋子", "外套", "衬衫",
        "羽绒服", "运动鞋", "拖鞋", "袜子", "帽子", "围巾", "手套",
        "书包", "背包", "行李箱", "零食", "牛奶", "咖啡", "巧克力",
        "饼干", "奶粉", "大米", "食用油", "矿泉水", "啤酒", "红酒",
        # commerce / platform terms
        "购物", "商品", "订单", "支付", "优惠", "优惠券", "折扣", "秒杀",
        "包邮", "退货", "退款", "客服", "物流", "快递", "收藏", "购物车",
        "评价", "好评", "差评", "库存", "价格", "品牌", "旗舰店", "专卖店",
        "正品", "新品", "爆款", "热卖", "促销", "活动", "会员", "积分",
        "红包", "满减", "立减", "首页", "搜索", "关键词", "推荐", "排行榜",
        # data / tech phrases (the reference's own demo keywords)
        "大数据", "实时", "数仓", "数据", "仓库", "项目", "之", "用户",
        "行为", "分析", "平台", "系统", "开发", "架构", "计算", "流式",
        "离线", "报表", "指标", "日志", "采集", "清洗", "建模", "尚硅谷",
        # general function words / common verbs-nouns
        "今天", "明天", "昨天", "现在", "时间", "北京", "上海", "广州",
        "深圳", "中国", "我们", "你们", "他们", "什么", "怎么", "为什么",
        "可以", "没有", "知道", "喜欢", "需要", "想要", "觉得", "已经",
        "还是", "但是", "因为", "所以", "如果", "这个", "那个", "一个",
        "很多", "非常", "真的", "不错", "便宜", "贵", "质量", "不好",
        "很好", "发货", "速度", "快", "慢",
    }
)

ZH_DICT = _DOMAIN_ZH | GENERAL_ZH
_MAX_WORD = max(len(w) for w in ZH_DICT)

# Closed-class single-character words: particles, prepositions,
# conjunctions, copulas/negation, common adverbs, pronouns, localizers,
# numerals, measure words, and the plural suffix — the grammatical
# inventory every dictionary segmenter (IK included) CORRECTLY emits as
# single tokens. Measured r06 on the held-out prose sets: these are
# 59/68 of all single-char emissions, i.e. the single-char-rate metric
# floors at the function-word density of the text (~0.21-0.25), NOT at
# zero — so coverage is tracked by the CONTENT fallback rate (singles
# outside this set), pinned in tests/test_functions.py.
CLOSED_CLASS_ZH: frozenset[str] = frozenset(
    "的了着过地得之乎者也吗呢吧啊呀嘛哦唉"
    "在于从向往对给把被将以由为跟同与和及或并而且但则即若虽因"
    "是有没不无非未别勿"
    "都也就才还再又更最很太挺颇皆均各每另只仅约"
    "我你他她它您谁些这那"
    "上下中里外内前后间旁"
    "一二三四五六七八九十百千万亿两几半"
    "个件条张位名家种类次回遍趟场台部辆架艘根颗粒块片段层排行组批对双副套款"
    "们"
)

# CJK Unified Ideographs (BMP block) — the range IK's lexer treats as
# Chinese; extension blocks are astral-plane rarities the dict won't
# contain, so they fall through to the single-char path naturally.
CJK_RUN_RE = re.compile(r"[一-鿿]+")


def fmm_segment(run: str) -> list[str]:
    """Forward maximum matching over ZH_DICT: at each position take the
    longest dictionary word (up to the longest dict entry), else emit the
    single character. O(len * max_word), deterministic."""
    out: list[str] = []
    i, n = 0, len(run)
    while i < n:
        matched = None
        for length in range(min(_MAX_WORD, n - i), 1, -1):
            cand = run[i : i + length]
            if cand in ZH_DICT:
                matched = cand
                break
        if matched is None:
            matched = run[i]
        out.append(matched)
        i += len(matched)
    return out
