"""Agent-based market simulator — the bronze fact producer.

Re-implements the reference's weekly market loop (SURVEY.md §2.11
G1-G13; src/bronze_generator.py:144-374) with the same economic
semantics, rule for rule:

  * initial gold 0.0 (bronze_generator.py:153);
  * decision odds are WEALTH-based — the 'unit' table applies when
    gold < 2x base_income AND the agent holds any inventory, else the
    'vip' table (make_decision, :212-223); all four chances are
    configurable with the reference's defaults (main.py:66-71);
  * purchase-tier odds by buyer class over (low, mid, high, relic):
    VIP (0.70, 0.25, 0.045, 0.005); base_income > 100
    (0.85, 0.13, 0.019, 0.001); base_income > 20
    (0.95, 0.049, 0.001, 0.0); else (0.9999, 0, 0, 0.0001)
    (choose_product_tier_to_buy, :168-183);
  * pools: 'low' = ALL Resources except Gold (any tier), 'mid' =
    tier_level Treasure/Minor, 'high' = Major, 'relic' = Relic
    (_get_product_tiers, :247-255) — Gold never trades (§7.5 #8);
  * buy: affordability filter at FULL price, one fallback to the
    price-filtered 'low' pool, artifact ownership/pool checks AFTER
    product selection (no second chance), then the partial-quantity
    downgrade that charges the agent's ENTIRE remaining gold
    (execute_buy_transaction, :257-318);
  * sell: 10-50% of an owned Resource, REFUSED when the rounded
    quantity lands under 0.1 — no forced minimum
    (choose_resource_to_sell, :196-210);
  * towns drawn from the GLOBAL town list for both sides (:313,340);
  * inventory entries are never deleted once created (defaultdict
    semantics) — `has inventory` stays true forever after a first buy;
  * artifact prices never move; only Resources float (G9, §7.5 #7);
  * transaction dates are uniform over the whole calendar, uncorrelated
    with the simulation week (G11, §7.5 #3).

Parity is semantic (same rules → same invariants and distributions),
not stream-identical: the reference seeds the GLOBAL random module at
import and interleaves dimension-name draws with the simulation
(bronze_generator.py:16,79), so exact draw-order equality is not
reproducible from a library API and is not claimed.

Deliberately a driver-side, single-process, seeded Python module:
global mutable market state — the shared price vector (G9), the global
artifact pool (G10), supply/demand accumulators — couples every agent
to every other agent within a week and every week to the previous one,
so the loop is inherently sequential (SURVEY.md §7.4). Spark's job is
consuming its partitioned parquet output, not running it.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from itertools import accumulate

from .definitions import CustomerDef, ProductDef, customers, products

DEFAULT_SEED = 42
DEFAULT_COL_RATE = 0.5
DEFAULT_WEALTH_TAX = 0.05

# G3 defaults (ref main.py:66-71): buy/sell chances per odds table;
# HOLD is the remainder. Validated as buy + sell <= 1.0 at the CLI.
DEFAULT_VIP_BUY = 0.5
DEFAULT_VIP_SELL = 0.2
DEFAULT_UNIT_BUY = 0.2
DEFAULT_UNIT_SELL = 0.6

# G10: global artifact stock by tier_level (ref Market.__init__:233-240 —
# mid pool items 20 each, high 5, relic 1; mid = Treasure + Minor)
ARTIFACT_POOL_SIZE = {"Treasure": 20, "Minor": 20, "Major": 5, "Relic": 1}

# G4: purchase-tier odds over (low, mid, high, relic) by buyer class
# (ref choose_product_tier_to_buy:168-183 — income bands, not wealth)
_TIER_ODDS: dict[str, tuple[float, float, float, float]] = {
    "vip": (0.70, 0.25, 0.045, 0.005),
    "high_income": (0.85, 0.13, 0.019, 0.001),   # base_income > 100
    "mid_income": (0.95, 0.049, 0.001, 0.0),     # base_income > 20
    "low_income": (0.9999, 0.0, 0.0, 0.0001),
}
_TIER_NAMES = ("low", "mid", "high", "relic")
# random.choices(weights=...) accumulates the weights on every call;
# passing the same accumulation as cum_weights bisects the same floats,
# so the draw stream is unchanged (pinned in tests/test_pipeline.py).
_TIER_CUM = {cls: list(accumulate(w)) for cls, w in _TIER_ODDS.items()}


@dataclass
class AgentState:
    spec: CustomerDef
    gold: float
    # product_key -> qty; entries are never removed once created (the
    # reference's defaultdict), so `bool(inventory)` latches True after
    # the first-ever purchase — this feeds the decision-odds branch.
    inventory: dict[int, float] = field(default_factory=dict)


@dataclass
class Trade:
    trade_key: int
    date_key: int
    transaction_type: str  # BUY | SELL
    customer_key: int
    product_key: int
    town_key: int
    quantity: float
    gold_per_unit: float
    gold_total: float
    current_gold_balance: float


class MarketSimulator:
    """Seeded, stateful weekly market loop. ``run_weeks`` yields per-week
    trade lists so the caller can chunk-flush (G12) without holding the
    whole history in memory."""

    def __init__(
        self,
        date_keys: list[int],
        town_keys: list[int],
        seed: int = DEFAULT_SEED,
        col_rate: float = DEFAULT_COL_RATE,
        wealth_tax: float = DEFAULT_WEALTH_TAX,
        vip_buy: float = DEFAULT_VIP_BUY,
        vip_sell: float = DEFAULT_VIP_SELL,
        unit_buy: float = DEFAULT_UNIT_BUY,
        unit_sell: float = DEFAULT_UNIT_SELL,
    ) -> None:
        self.rng = random.Random(seed)
        self.col_rate = col_rate
        self.wealth_tax = wealth_tax
        # the CLI validates-and-falls-back (app.py, ref main.py:82-89);
        # programmatic construction must not silently run with a
        # negative HOLD weight in random.choices
        if vip_buy + vip_sell > 1.0 or unit_buy + unit_sell > 1.0:
            raise ValueError(
                "buy+sell odds exceed 1.0 "
                f"(vip={vip_buy + vip_sell}, unit={unit_buy + unit_sell})"
            )
        self.odds = {
            "vip": (vip_buy, vip_sell, 1.0 - vip_buy - vip_sell),
            "unit": (unit_buy, unit_sell, 1.0 - unit_buy - unit_sell),
        }
        self._cum_odds = {k: list(accumulate(v)) for k, v in self.odds.items()}
        self.date_keys = date_keys
        self.town_keys = list(town_keys)  # global draw (ref :313,340)
        self.products: dict[int, ProductDef] = {p.key: p for p in products()}
        self.prices: dict[int, float] = {p.key: p.base_value_gold for p in self.products.values()}
        self.artifact_pool: dict[int, int] = {
            p.key: ARTIFACT_POOL_SIZE[p.tier_level]
            for p in self.products.values()
            if p.category_name == "Artifacts"
        }
        self.supply: dict[int, float] = {k: 0.0 for k in self.products}
        self.demand: dict[int, float] = {k: 0.0 for k in self.products}
        # initial gold 0.0 (ref Agent.__init__:153) — week 1 purchasing
        # power is exactly one stipend minus upkeep
        self.agents = [AgentState(spec=c, gold=0.0) for c in customers()]
        self._trade_seq = 0  # G: trade_key space starts at 1
        self._pools = self._build_pools()

    # -- static pools -------------------------------------------------------

    def _build_pools(self) -> dict[str, list[int]]:
        """Ref _get_product_tiers:247-255: low = every Resource except
        Gold regardless of its tier_level; mid/high/relic by artifact
        tier. A Mid-tier Resource is a 'low' purchase."""
        ps = list(self.products.values())
        return {
            "low": [p.key for p in ps
                    if p.category_name == "Resources" and p.name != "Gold"],
            "mid": [p.key for p in ps if p.tier_level in ("Treasure", "Minor")],
            "high": [p.key for p in ps if p.tier_level == "Major"],
            "relic": [p.key for p in ps if p.tier_level == "Relic"],
        }

    # -- weekly phases ------------------------------------------------------

    def _upkeep(self, a: AgentState) -> None:
        """G1: gold = max(0, gold - (base_income*col_rate + gold*tax))."""
        cost = a.spec.base_income * self.col_rate + a.gold * self.wealth_tax
        a.gold = max(0.0, a.gold - cost)

    def _income(self, a: AgentState) -> None:
        """G2: weekly stipend."""
        a.gold += a.spec.base_income

    def _decide(self, a: AgentState) -> str:
        """G3 (ref make_decision:212-223): 'unit' odds when cash-poor
        (gold < 2x income) AND holding inventory, else 'vip' odds —
        wealth-based, not segment-based."""
        cash_poor = a.gold < 2.0 * a.spec.base_income and bool(a.inventory)
        cum = self._cum_odds["unit" if cash_poor else "vip"]
        return self.rng.choices(("BUY", "SELL", "HOLD"), cum_weights=cum, k=1)[0]

    def _pick_tier(self, a: AgentState) -> str:
        """G4 (ref choose_product_tier_to_buy:168-183): class by segment
        then base_income bands; an empty chosen pool falls back to 'low'."""
        if a.spec.segment == "VIP":
            cls = "vip"
        elif a.spec.base_income > 100:
            cls = "high_income"
        elif a.spec.base_income > 20:
            cls = "mid_income"
        else:
            cls = "low_income"
        tier = self.rng.choices(_TIER_NAMES, cum_weights=_TIER_CUM[cls], k=1)[0]
        if not self._pools[tier]:
            tier = "low"
        return tier

    def _quantity_for(self, a: AgentState, p: ProductDef) -> float:
        """G5 (ref get_quantity_to_buy:185-194): artifacts 1; VIP or
        tier>=7 bulk 100-1000; tier>=4 10-50; else fractional 0.1-5.0."""
        if p.category_name == "Artifacts":
            return 1.0
        if a.spec.segment == "VIP" or a.spec.unit_tier >= 7:
            return float(self.rng.randint(100, 1000))
        if a.spec.unit_tier >= 4:
            return float(self.rng.randint(10, 50))
        return round(self.rng.uniform(0.1, 5.0), 2)

    def _emit(self, a: AgentState, ttype: str, p: ProductDef, qty: float,
              price: float, total: float) -> Trade:
        """G11: uniform random date over the whole calendar; row shape of
        ref :307-318/:334-345 — gold_per_unit and the balance stay full
        precision (only the charged/credited total rounds to money)."""
        self._trade_seq += 1
        return Trade(
            trade_key=self._trade_seq,
            date_key=self.rng.choice(self.date_keys),
            transaction_type=ttype,
            customer_key=a.spec.key,
            product_key=p.key,
            town_key=self.rng.choice(self.town_keys),
            quantity=qty,
            gold_per_unit=price,
            gold_total=total,
            current_gold_balance=a.gold,
        )

    def _try_buy(self, a: AgentState) -> Trade | None:
        """G7 (ref execute_buy_transaction:257-318): tier pick →
        full-price affordability filter → one fallback to the filtered
        'low' pool → random product → artifact ownership + global-pool
        bail (AFTER selection — an owned pick means no trade at all) →
        partial-quantity downgrade for non-artifacts that charges the
        agent's entire remaining gold."""
        tier = self._pick_tier(a)
        pool = [k for k in self._pools[tier] if self.prices[k] <= a.gold]
        if not pool:
            pool = [k for k in self._pools["low"] if self.prices[k] <= a.gold]
            if not pool:
                return None
        key = self.rng.choice(pool)
        p = self.products[key]

        if p.category_name == "Artifacts":
            # ref :278 reads inventory[key] on a defaultdict — the probe
            # itself INSERTS a 0.0 entry, so even a failed artifact
            # attempt latches `has inventory` true for decision odds.
            # setdefault reproduces that side effect exactly.
            if a.inventory.setdefault(key, 0.0) > 0:
                return None  # one copy per agent (ref :277-279)
            if self.artifact_pool[key] <= 0:
                return None  # global stock exhausted (ref :280-281)

        qty = self._quantity_for(a, p)
        price = self.prices[key]
        total_cost = round(price * qty, 2)

        if total_cost > a.gold:
            if p.category_name == "Artifacts":
                return None  # never partial-buy an artifact (ref :287-289)
            min_cost = price * 0.1
            if a.gold < min_cost:
                return None
            qty = round(a.gold / price, 2)
            total_cost = a.gold  # charge ALL remaining gold (ref :294-295)
            if qty < 0.1:
                return None

        a.gold -= total_cost
        a.inventory[key] = a.inventory.get(key, 0.0) + qty
        if p.category_name == "Artifacts":
            self.artifact_pool[key] -= 1
        # ref :305 accumulates demand unconditionally; artifact demand is
        # inert (update_market_prices skips artifacts) but kept for parity
        self.demand[key] += qty
        return self._emit(a, "BUY", p, qty, price, total_cost)

    def _try_sell(self, a: AgentState) -> Trade | None:
        """G6+G8 (ref choose_resource_to_sell:196-210 +
        execute_sell_transaction:320-345): random owned Resource with
        qty > 0.1; sell 10-50% (2dp); REFUSE when the rounded quantity
        is under 0.1 — no forced minimum, no inventory deletion."""
        sellable = [
            k for k, q in a.inventory.items()
            if self.products[k].category_name == "Resources" and q > 0.1
        ]
        if not sellable:
            return None
        key = self.rng.choice(sellable)
        qty = round(a.inventory[key] * self.rng.uniform(0.1, 0.5), 2)
        if qty < 0.1:
            return None  # dust-sale refusal (ref :208-209)
        p = self.products[key]
        price = self.prices[key]
        total_gain = round(price * qty, 2)
        a.gold += total_gain
        a.inventory[key] -= qty
        self.supply[key] += qty
        return self._emit(a, "SELL", p, qty, price, total_gain)

    def _update_prices(self) -> None:
        """G9 (ref update_market_prices:347-368): per non-artifact product
        price *= 1 + net_demand/10000, mean-revert 0.95p + 0.05 base,
        clamp [0.1 base, 10 base]; reset accumulators. Artifacts never
        reprice (§7.5 #7)."""
        for p in self.products.values():
            if p.category_name == "Artifacts":
                continue
            k = p.key
            net = self.demand[k] - self.supply[k]
            price = self.prices[k] * (1.0 + net / 10000.0)
            price = 0.95 * price + 0.05 * p.base_value_gold
            self.prices[k] = min(max(price, 0.1 * p.base_value_gold),
                                 10.0 * p.base_value_gold)
        self.supply = {k: 0.0 for k in self.products}
        self.demand = {k: 0.0 for k in self.products}

    # -- main loop ----------------------------------------------------------

    def run_week(self) -> list[Trade]:
        trades: list[Trade] = []
        for a in self.agents:
            self._upkeep(a)
            self._income(a)
            action = self._decide(a)
            t = None
            if action == "BUY":
                t = self._try_buy(a)
            elif action == "SELL":
                t = self._try_sell(a)
            if t is not None:
                trades.append(t)
        self._update_prices()
        return trades

    def run_weeks(self, n: int):
        """Yield (week_index, trades) — callers chunk-flush (G12)."""
        for w in range(n):
            yield w, self.run_week()
