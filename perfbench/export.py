"""Seeded generator of raw product exports in the FIXTURES.md F1 format.

One seed gives one pair of byte-identical exports: the load-day export
and the next day's refresh export (about 10% of variant prices changed,
5% new masters appended). Every export carries the F1 edge cases:
blank master codes, ``.0`` SKUs, junk ``Img Array`` entries, duplicate
SKU rows, interleaved masters, attribute values holding ``:`` and
``-``, ``NaN`` videos and comma-decimal prices.

The generator also returns what the warehouse must hold after each
export is ingested, so the benchmark can check the pipeline's output
without a second implementation of it.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

HEADER = [
    "Master Code", "SKU Code", "Product Name", "Product Image", "Img Array",
    "Category Name", "Custom Attributes", "Sku Attribute", "Web Page Details",
    "Video", "Price", "Inventory", "Weight", "Long", "Width", "High",
    "Collection URL", "Collection Image", "Master WXWERP",
]

_STYLES = ["复古", "北欧", "侘寂风", "现代", "简约", "法式", "日式", "轻奢"]
_COLORS = ["米白色", "灰色", "黑色", "奶油色", "墨绿色", "焦糖色", "雾蓝色"]
_MATERIALS = ["棉麻", "羊毛", "实木", "丝绒", "藤编", "陶瓷"]
_ITEMS = ["抱枕套", "地毯", "床头柜", "吧椅", "窗帘", "台灯", "花瓶", "餐桌",
          "书架", "坐垫", "挂画", "边几"]
_CATEGORIES = ["吧椅", "地毯", "床头柜", "抱枕", "窗帘", "灯具", "花瓶", "餐桌",
               "书架", "坐垫", "挂画", "边几", "收纳", "镜子", "衣架", "香薰",
               "托盘", "桌布", "床品", "毛毯", "餐具", "烛台", "钟表", "屏风",
               "摆件"]
_BRANDS = ["游梨", "木语", "棉舍", "禾山", "素野"]
_SIZES = ["45x45cm", "50x50cm", "30x50cm", "120x160cm", "160x230cm"]


@dataclass
class Expected:
    """What the warehouse holds after an export is ingested."""

    #: master code -> number of distinct variant SKUs (the flagship result)
    products_per_master: dict[str, int] = field(default_factory=dict)
    #: master code -> zh collection name
    names: dict[str, str] = field(default_factory=dict)
    categories: set[str] = field(default_factory=set)

    @property
    def n_collections(self) -> int:
        return len(self.products_per_master)

    @property
    def n_products(self) -> int:
        return sum(self.products_per_master.values())

    @property
    def n_en_translations(self) -> int:
        # one zh name per collection and per category, each swept to en
        return self.n_collections + len(self.categories)


@dataclass
class Export:
    load_csv: bytes
    refresh_csv: bytes
    load: Expected
    refresh: Expected


@dataclass
class _Master:
    code: str
    name: str
    category: str
    template: list[str]
    variants: list[list[str]]


def _cell(value: str) -> str:
    if ";" in value or '"' in value or "\n" in value:
        return '"' + value.replace('"', '""') + '"'
    return value


def _render(rows: list[list[str]]) -> bytes:
    lines = [";".join(HEADER)] + [";".join(_cell(c) for c in r) for r in rows]
    return ("\n".join(lines) + "\n").encode("utf-8")


def _price(rng: random.Random) -> str:
    cents = rng.randrange(990, 250000)
    whole, frac = divmod(cents, 100)
    kind = rng.random()
    if kind < 0.4:
        return str(whole)
    if kind < 0.7 or whole < 1000:
        return f"{whole},{frac:02d}"
    return f"{whole // 1000}.{whole % 1000:03d},{frac:02d}"


def _row(**cells: str) -> list[str]:
    keys = [h.lower().replace(" ", "_") for h in HEADER]
    return [cells.get(k, "") for k in keys]


class _Generator:
    def __init__(self, seed: int):
        self.rng = random.Random(f"perfbench-export-{seed}")
        self.next_sku = 730000000000 + self.rng.randrange(10**6)
        self.n_masters = 0

    def sku(self) -> str:
        self.next_sku += self.rng.randrange(1, 7)
        return str(self.next_sku)

    def name(self) -> str:
        r = self.rng
        return r.choice(_STYLES) + r.choice(_COLORS) + r.choice(_MATERIALS) + r.choice(_ITEMS)

    def master(self, name: str | None = None) -> _Master:
        """One master: a template row plus 0-9 variant rows. The first
        master of every export carries each per-master edge case, so
        even a tiny export has all of them."""
        r = self.rng
        self.n_masters += 1
        first = self.n_masters == 1
        code = f"{r.randrange(16**6):06x}{self.n_masters:05d}"
        name = name or self.name()
        category = r.choice(_CATEGORIES)
        n_img = r.randrange(0, 4)
        urls = [f"https://img.example/{code}/{i}.{r.choice(['jpg', 'png', 'webp'])}"
                for i in range(1, n_img + 1)]
        junk = [str(r.choice([800, 750, 0])), "null"][: 2 if first else r.randrange(0, 3)]
        img_array = "[" + ", ".join(urls[:1] + junk + urls[1:]) + "]"
        details = "<div>" + "".join(
            f'<img src="https://desc.example/{code}/d{i}.jpg"><p>{self.name()}</p>'
            for i in range(1, r.randrange(1, 4) + 1)
        ) + "</div>"
        custom = (f"品牌:{r.choice(_BRANDS)}-风格:{r.choice(_STYLES)}"
                  f"-货号:YL-{code.upper()}-上架时间:{r.randrange(24):02d}:{r.randrange(60):02d}")
        video = "NaN" if first else r.choice(["", "NaN", f"https://v.example/{code}.mp4"])
        template = _row(
            master_code=code, sku_code=self.sku() + (".0" if r.random() < 0.05 else ""),
            product_name=name,
            product_image=", ".join(urls[:2]),
            img_array=img_array, category_name=category, custom_attributes=custom,
            web_page_details=details, video=video, price=_price(r),
            inventory=str(r.randrange(0, 500)), weight=f"0,{r.randrange(1, 10)}",
            long=str(r.randrange(1, 200)), width=str(r.randrange(1, 300)),
            high=str(r.randrange(1, 100)),
            collection_url=f"https://detail.tmall.com/item.htm?id={self.next_sku}",
            collection_image=f"https://img.example/{code}/cover.jpg",
            master_wxwerp=f"{r.randrange(16**24):024x}",
        )
        variants = []
        for k in range(r.randrange(2 if first else 0, 10)):
            sku = self.sku() + (".0" if r.random() < 0.05 or (first and k == 0) else "")
            variants.append(_row(
                master_code=code, sku_code=sku,
                sku_attribute=f"颜色:{r.choice(_COLORS)};尺寸:{r.choice(_SIZES)}",
                price=_price(r), inventory=str(r.randrange(0, 300)),
                weight=f"0,{r.randrange(1, 10)}",
            ))
        if variants and (first or r.random() < 0.05):
            variants.append(list(r.choice(variants)))  # duplicate SKU row
        return _Master(code, name, category, template, variants)

    def blank_master_row(self) -> list[str]:
        return _row(sku_code=self.sku(), product_name=self.name(),
                    price=_price(self.rng), inventory="1")


def _layout(masters: list[_Master], gen: _Generator) -> list[list[str]]:
    """File order: mostly contiguous masters, every 7th pair interleaved
    row by row (each master's own rows keep their order, so its template
    stays first), plus a blank-master row after the first master and
    after every 50th."""
    rows: list[list[str]] = []
    i = blanks = 0
    while i < len(masters):
        a = masters[i]
        if i % 7 == 3 and i + 1 < len(masters):
            b = masters[i + 1]
            ra, rb = [a.template, *a.variants], [b.template, *b.variants]
            for k in range(max(len(ra), len(rb))):
                rows.extend(x[k] for x in (ra, rb) if k < len(x))
            i += 2
        else:
            rows.extend([a.template, *a.variants])
            i += 1
        if blanks <= i // 50:
            rows.append(gen.blank_master_row())
            blanks += 1
    return rows


def _expected(masters: list[_Master]) -> Expected:
    exp = Expected()
    sku_col = HEADER.index("SKU Code")
    for m in masters:
        exp.products_per_master[m.code] = len({v[sku_col] for v in m.variants})
        exp.names[m.code] = m.name
        exp.categories.add(m.category)
    return exp


def generate(seed: int, n_masters: int) -> Export:
    """Build the load and refresh exports for ``seed``."""
    gen = _Generator(seed)
    masters = [gen.master() for _ in range(n_masters)]
    load_rows = _layout(masters, gen)

    # Next day: reprice ~10% of variants, append 5% new masters whose
    # names mostly repeat existing ones (so the MT cache serves them).
    price_col, sku_col = HEADER.index("Price"), HEADER.index("SKU Code")
    skus = sorted({v[sku_col] for m in masters for v in m.variants})
    new_price = {s: _price(gen.rng) for s in skus if gen.rng.random() < 0.10}
    repriced = []
    for m in masters:
        variants = []
        for v in m.variants:
            v = list(v)
            v[price_col] = new_price.get(v[sku_col], v[price_col])
            variants.append(v)
        repriced.append(_Master(m.code, m.name, m.category, m.template, variants))
    new = [
        gen.master(name=gen.rng.choice(masters).name if gen.rng.random() < 0.8 else None)
        for _ in range(max(1, n_masters // 20))
    ]
    refresh_masters = repriced + new
    return Export(
        load_csv=_render(load_rows),
        refresh_csv=_render(_layout(refresh_masters, gen)),
        load=_expected(masters),
        refresh=_expected(refresh_masters),
    )
