"""TPC-DS 1.4 query corpus beyond the Impala-kit 20: sixty-one more
full-fidelity queries from the reference's ``runnable`` list
(TPCDS_1_4_Queries.scala:3866-3876; texts re-derived from the public
TPC-DS 1.4 templates), chosen to exercise the shapes the Impala set
doesn't: multi-channel UNION/INTERSECT/EXCEPT (q2/q38/q87/q97), scalar
subqueries in CASE (q9), grouping-sets + windowed rank (q36), sales<->
returns joins (q50/q93/q84/q40), inventory scans (q21/q22/q37/q82),
cross-channel repurchase chains (q17/q25/q29), correlated-average
discount outliers (q32/q92), ship-lag bucket reports (q62/q99),
time-of-day star joins (q88/q96/q90), AND-of-OR demographic batteries
(q13-family: q48), zip/state branch filters (q15/q45), revenue-ratio
windows (q12/q20) and multi-bucket self-unions (q28).

Correctness model: engine-vs-engine vs DuckDB over identical parquet
(tests/test_tpcds14_suite.py) + run-to-run fingerprints.

Documented deviations from the verbatim 1.4 texts:
- backtick aliases (`30 days`, `order count`) are not portable between
  Spark and DuckDB quoting; renamed d30/d31_60/... etc.
- q9's five count thresholds are literals chosen for the harness scales
  (the reference computes them from the scale factor).
- deterministic tiebreak columns are appended to ORDER BY where the
  original order is not total (q36), so the LIMIT cut is well-defined.
- "+ interval N days" is written as "+ N" (date + int), valid in both
  engines (the reference applies the same kind of rewrite for Spark).
- item-subset predicates are rescaled to the generated item table's
  uniform vocabulary so they stay structurally non-empty at sf0.01:
  q32 i_manufact_id 977 -> BETWEEN 950 AND 1000; q92 350 -> BETWEEN 320
  AND 370; q37/q82 widen the price band and manufact list; q40 widens
  the price band; q90 widens wp_char_count 5000-5200 -> 4000-6000;
  q45's literal 5-digit zips -> their 2-digit prefixes; q21's price
  band 0.99-1.49 -> 0.99-19.99 (its before/after ratio needs (warehouse,
  item) groups with inventory on both sides of the pivot date). The
  shape (selective dim predicate driving a fact scan) is unchanged.
- q17/q25/q29 rely on the datagen's planted cross-channel repurchase
  rows (see sources/datagen.py _catalog_sales_columns).
- tranche 3 adds q16/q30/q31/q33/q47/q49/q51/q56/q57/q60/q75/q86/q94/
  q95: ship-exists/not-exists order audits, state-avg outlier returns,
  county quarter-over-quarter growth, 3-channel item/manufact unions,
  monthly-series lag/lead self-joins, cumulative full-outer windows,
  return-ratio rank unions, and year-over-year item-attr declines.
  q41's correlated count subquery appears under OR — the reference's
  Spark excluded it from `runnable` because 2017-era decorrelation
  rejected disjunctive correlation; modern Spark's DecorrelateInnerQuery
  handles it (verified on this build), so it IS ported here. Six of its
  colors and three units map to the generated vocabulary (cyan->beige,
  papaya->rose, orange->smoke, frosted->pale, forest->metallic,
  ghost->antique; Cup->Carton, Dram->Case, Tbl->Box); the manufact_id
  band and all other literals are verbatim.
- tranche 4 adds q4/q11/q74 (year-over-year customer-channel growth),
  q18/q61/q66/q67/q70/q71/q77/q81. NULLS FIRST is spelled explicitly on
  rollup-nullable ORDER BY keys (Spark default is nulls-first, DuckDB's
  is nulls-last — the LIMIT cut must agree); q18's state list maps to
  the generated vocabulary; q4/q11/q74 are volume-driven (customers
  active in two channels across consecutive years) and verified at
  sf0.1 in tests/test_tpcds14_yoy.py rather than sf0.01.
- tranche 5 (round 2) closes every remaining `runnable` omission:
  q39a/q39b/q72 over the dense weekly inventory grid, q8 over the
  bounded zip vocabulary, q58/q78 over the triple-channel echo,
  q83 over the returned-item echo, q76 over the NULL channel keys,
  q13/q85/q91/q54/q64 in the sf0.1 volume family. Deviations, all
  vocabulary/selectivity rescales with the query shape unchanged:
  q37/q82 manufact in-lists -> ranges (the tracked-inventory item
  subset is 0.5% of items at sf0.01); q13/q85 state lists map to the
  generated vocabulary and their net-profit bands widen (the official
  100-200 band is 0.5% of the generated profit range); q91 widens
  d_moy to a quarter and gmt to two offsets; q54 widens its
  my_customers window to Q4 (and keeps the verbatim Women/maternity
  pair — class is nested under category in the generator); q64's color
  list maps to the generated vocabulary and its price band widens;
  q54's revenue segmentation uses cast(floor(revenue/50) as int)
  because DuckDB rounds CAST(double AS INT) while Spark truncates —
  floor() is identical in both; q39's duplicated output column names
  get aliases (wsk1/isk1/...); q72/q58's ambiguous ORDER BY/item_id
  references are qualified.
- tranche 6 goes beyond the runnable list to the full 1.4 map:
  q6/q10/q35 (EXISTS-OR-EXISTS channel probes and the category-average
  price subquery — modern Spark decorrelates these), q14a/q14b
  (3-channel (brand,class,category) INTERSECT + rollup, fed by the
  triple-channel echo), q24a/q24b (returned-sale netpaid vs 5%-of-avg
  scalar, over the shared store/address zip vocabulary and s_market_id
  cycle). Deviations: q10's county list maps to the generated
  vocabulary; q6 gains a state tiebreak in ORDER BY; q14a spells NULLS
  FIRST on its rollup ORDER BY keys; q14b's select * is expanded to
  aliased columns (duplicate names break the comparator); q24 gains a
  deterministic ORDER BY. q14a/b and q24a/b verify in the sf0.1 volume
  family.
- tranche 7 (round 4) completes the 1.4 map with q23a/q23b
  (TPCDS_1_4_Queries.scala:1001-1105). Their per-(item, day)
  count(*) > 4 HAVING and 50%-of-max customer-spend HAVING need
  dsdgen's item-popularity and whale-customer skew, which the
  generator plants deterministically (sources/datagen.py, the
  _WHALE_MOD/_HOT_ITEMS branch: store tickets == 21 (mod 64) belong
  to customer 1 and land whole >= 9-line baskets on 8 hot (item, day)
  pairs, echoed into catalog/web in Feb 2000). At sf0.01 the
  frequent-items CTE yields exactly the 8 hot pairs and
  best_ss_customer yields the whale, so both verify in the regular
  sf0.01 engine-vs-engine fixture. Deviations: q23a's bare sum(sales)
  is aliased (comparator needs a stable name); q23b keeps the
  verbatim ORDER BY (names are non-null in the generator, so Spark /
  DuckDB null placement cannot diverge).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..query import Query
from ..sources.datagen import gen_tpcds

# Year-over-year family: needs two-channel customer overlap in
# consecutive years, which is a data-VOLUME property — tested at sf0.1
# Verified at sf0.1 rather than sf0.01 — volume-driven result sets:
# q4/q11/q74 need the same customer active in two channels across two
# consecutive years; q72 needs the catalog x tracked-inventory-item x
# double-demographics intersection; q13/q85/q91 are double-demographics
# conjunction batteries whose surviving-row count scales linearly with
# fact volume; q54 is a cross-channel catchment funnel and q64 a
# two-year returned-sale self-join, both compounding several ~%-level
# selectivities. Expected rows at sf0.01 are ~0 by arithmetic, tens to
# hundreds at sf0.1 (see tests/test_tpcds14_yoy.py).
TPCDS14_YOY = ("q4", "q11", "q74", "q72", "q13", "q85", "q91", "q54", "q64",
               "q14a", "q14b", "q24a", "q24b")

TPCDS14_TABLES = (
    "store_sales", "catalog_sales", "web_sales", "store_returns",
    "catalog_returns", "web_returns", "inventory",
    "date_dim", "time_dim", "item", "customer", "customer_address",
    "customer_demographics", "household_demographics", "income_band",
    "store", "promotion", "reason", "warehouse", "ship_mode",
    "call_center", "web_page", "web_site", "catalog_page",
)

TPCDS14_QUERIES: dict[str, str] = {
    "q2": """
        WITH wscs as
         (SELECT sold_date_sk, sales_price
          FROM (SELECT ws_sold_date_sk sold_date_sk, ws_ext_sales_price sales_price
                FROM web_sales) x
                UNION ALL
               (SELECT cs_sold_date_sk sold_date_sk, cs_ext_sales_price sales_price
                FROM catalog_sales)),
         wswscs AS
         (SELECT d_week_seq,
                sum(case when (d_day_name='Sunday') then sales_price else null end) sun_sales,
                sum(case when (d_day_name='Monday') then sales_price else null end) mon_sales,
                sum(case when (d_day_name='Tuesday') then sales_price else null end) tue_sales,
                sum(case when (d_day_name='Wednesday') then sales_price else null end) wed_sales,
                sum(case when (d_day_name='Thursday') then sales_price else null end) thu_sales,
                sum(case when (d_day_name='Friday') then sales_price else null end) fri_sales,
                sum(case when (d_day_name='Saturday') then sales_price else null end) sat_sales
         FROM wscs, date_dim
         WHERE d_date_sk = sold_date_sk
         GROUP BY d_week_seq)
        SELECT d_week_seq1
              ,round(sun_sales1/sun_sales2,2) sun_ratio
              ,round(mon_sales1/mon_sales2,2) mon_ratio
              ,round(tue_sales1/tue_sales2,2) tue_ratio
              ,round(wed_sales1/wed_sales2,2) wed_ratio
              ,round(thu_sales1/thu_sales2,2) thu_ratio
              ,round(fri_sales1/fri_sales2,2) fri_ratio
              ,round(sat_sales1/sat_sales2,2) sat_ratio
        FROM
         (SELECT wswscs.d_week_seq d_week_seq1
                ,sun_sales sun_sales1, mon_sales mon_sales1
                ,tue_sales tue_sales1, wed_sales wed_sales1
                ,thu_sales thu_sales1, fri_sales fri_sales1
                ,sat_sales sat_sales1
          FROM wswscs,date_dim
          WHERE date_dim.d_week_seq = wswscs.d_week_seq AND d_year = 2001) y,
         (SELECT wswscs.d_week_seq d_week_seq2
                ,sun_sales sun_sales2, mon_sales mon_sales2
                ,tue_sales tue_sales2, wed_sales wed_sales2
                ,thu_sales thu_sales2, fri_sales fri_sales2
                ,sat_sales sat_sales2
          FROM wswscs, date_dim
          WHERE date_dim.d_week_seq = wswscs.d_week_seq AND d_year = 2001 + 1) z
        WHERE d_week_seq1=d_week_seq2-53
        ORDER BY d_week_seq1
    """,
    "q6": """
        SELECT a.ca_state state, count(*) cnt
        FROM
           customer_address a, customer c, store_sales s, date_dim d, item i
        WHERE a.ca_address_sk = c.c_current_addr_sk
                AND c.c_customer_sk = s.ss_customer_sk
                AND s.ss_sold_date_sk = d.d_date_sk
                AND s.ss_item_sk = i.i_item_sk
                AND d.d_month_seq =
                     (SELECT distinct (d_month_seq) FROM date_dim
               WHERE d_year = 2000 AND d_moy = 1)
                AND i.i_current_price > 1.2 *
                    (SELECT avg(j.i_current_price) FROM item j
                            WHERE j.i_category = i.i_category)
        GROUP BY a.ca_state
        HAVING count(*) >= 10
        ORDER BY cnt, a.ca_state LIMIT 100
    """,
    "q8": """
        select s_store_name, sum(ss_net_profit) sum_profit
        from store_sales, date_dim, store,
            (SELECT ca_zip
              from (
              (SELECT substr(ca_zip,1,5) ca_zip FROM customer_address
                 WHERE substr(ca_zip,1,5) IN (
                      '24128','76232','65084','87816','83926','77556','20548',
                      '26231','43848','15126','91137','61265','98294','25782',
                      '17920','18426','98235','40081','84093','28577','55565',
                      '17183','54601','67897','22752','86284','18376','38607',
                      '45200','21756','29741','96765','23932','89360','29839',
                      '25989','28898','91068','72550','10390','18845','47770',
                      '82636','41367','76638','86198','81312','37126','39192',
                      '88424','72175','81426','53672','10445','42666','66864',
                      '66708','41248','48583','82276','18842','78890','49448',
                      '14089','38122','34425','79077','19849','43285','39861',
                      '66162','77610','13695','99543','83444','83041','12305',
                      '57665','68341','25003','57834','62878','49130','81096',
                      '18840','27700','23470','50412','21195','16021','76107',
                      '71954','68309','18119','98359','64544','10336','86379',
                      '27068','39736','98569','28915','24206','56529','57647',
                      '54917','42961','91110','63981','14922','36420','23006',
                      '67467','32754','30903','20260','31671','51798','72325',
                      '85816','68621','13955','36446','41766','68806','16725',
                      '15146','22744','35850','88086','51649','18270','52867',
                      '39972','96976','63792','11376','94898','13595','10516',
                      '90225','58943','39371','94945','28587','96576','57855',
                      '28488','26105','83933','25858','34322','44438','73171',
                      '30122','34102','22685','71256','78451','54364','13354',
                      '45375','40558','56458','28286','45266','47305','69399',
                      '83921','26233','11101','15371','69913','35942','15882',
                      '25631','24610','44165','99076','33786','70738','26653',
                      '14328','72305','62496','22152','10144','64147','48425',
                      '14663','21076','18799','30450','63089','81019','68893',
                      '24996','51200','51211','45692','92712','70466','79994',
                      '22437','25280','38935','71791','73134','56571','14060',
                      '19505','72425','56575','74351','68786','51650','20004',
                      '18383','76614','11634','18906','15765','41368','73241',
                      '76698','78567','97189','28545','76231','75691','22246',
                      '51061','90578','56691','68014','51103','94167','57047',
                      '14867','73520','15734','63435','25733','35474','24676',
                      '94627','53535','17879','15559','53268','59166','11928',
                      '59402','33282','45721','43933','68101','33515','36634',
                      '71286','19736','58058','55253','67473','41918','19515',
                      '36495','19430','22351','77191','91393','49156','50298',
                      '87501','18652','53179','18767','63193','23968','65164',
                      '68880','21286','72823','58470','67301','13394','31016',
                      '70372','67030','40604','24317','45748','39127','26065',
                      '77721','31029','31880','60576','24671','45549','13376',
                      '50016','33123','19769','22927','97789','46081','72151',
                      '15723','46136','51949','68100','96888','64528','14171',
                      '79777','28709','11489','25103','32213','78668','22245',
                      '15798','27156','37930','62971','21337','51622','67853',
                      '10567','38415','15455','58263','42029','60279','37125',
                      '56240','88190','50308','26859','64457','89091','82136',
                      '62377','36233','63837','58078','17043','30010','60099',
                      '28810','98025','29178','87343','73273','30469','64034',
                      '39516','86057','21309','90257','67875','40162','11356',
                      '73650','61810','72013','30431','22461','19512','13375',
                      '55307','30625','83849','68908','26689','96451','38193',
                      '46820','88885','84935','69035','83144','47537','56616',
                      '94983','48033','69952','25486','61547','27385','61860',
                      '58048','56910','16807','17871','35258','31387','35458',
                      '35576'))
              INTERSECT
              (select ca_zip
                 FROM
                   (SELECT substr(ca_zip,1,5) ca_zip,count(*) cnt
                     FROM customer_address, customer
                     WHERE ca_address_sk = c_current_addr_sk and
                           c_preferred_cust_flag='Y'
                     group by ca_zip
                     having count(*) > 10) A1)
                ) A2
             ) V1
        where ss_store_sk = s_store_sk
         and ss_sold_date_sk = d_date_sk
         and d_qoy = 2 and d_year = 1998
         and (substr(s_zip,1,2) = substr(V1.ca_zip,1,2))
        group by s_store_name
        order by s_store_name LIMIT 100
    """,
    "q9": """
        select case when (select count(*) from store_sales
                          where ss_quantity between 1 and 20) > 4000
                    then (select avg(ss_ext_discount_amt) from store_sales
                          where ss_quantity between 1 and 20)
                    else (select avg(ss_net_paid) from store_sales
                          where ss_quantity between 1 and 20) end bucket1,
               case when (select count(*) from store_sales
                          where ss_quantity between 21 and 40) > 4500
                    then (select avg(ss_ext_discount_amt) from store_sales
                          where ss_quantity between 21 and 40)
                    else (select avg(ss_net_paid) from store_sales
                          where ss_quantity between 21 and 40) end bucket2,
               case when (select count(*) from store_sales
                          where ss_quantity between 41 and 60) > 10000
                    then (select avg(ss_ext_discount_amt) from store_sales
                          where ss_quantity between 41 and 60)
                    else (select avg(ss_net_paid) from store_sales
                          where ss_quantity between 41 and 60) end bucket3,
               case when (select count(*) from store_sales
                          where ss_quantity between 61 and 80) > 5000
                    then (select avg(ss_ext_discount_amt) from store_sales
                          where ss_quantity between 61 and 80)
                    else (select avg(ss_net_paid) from store_sales
                          where ss_quantity between 61 and 80) end bucket4,
               case when (select count(*) from store_sales
                          where ss_quantity between 81 and 100) > 20000
                    then (select avg(ss_ext_discount_amt) from store_sales
                          where ss_quantity between 81 and 100)
                    else (select avg(ss_net_paid) from store_sales
                          where ss_quantity between 81 and 100) end bucket5
        from reason
        where r_reason_sk = 1
    """,
    "q12": """
        select i_item_desc, i_category, i_class, i_current_price,
          sum(ws_ext_sales_price) as itemrevenue,
          sum(ws_ext_sales_price)*100/sum(sum(ws_ext_sales_price)) over
                  (partition by i_class) as revenueratio
        from web_sales, item, date_dim
        where ws_item_sk = i_item_sk
          and i_category in ('Sports', 'Books', 'Home')
          and ws_sold_date_sk = d_date_sk
          and d_date between cast('1999-02-22' as date)
                         and (cast('1999-02-22' as date) + 30)
        group by i_item_id, i_item_desc, i_category, i_class, i_current_price
        order by i_category, i_class, i_item_id, i_item_desc, revenueratio
        LIMIT 100
    """,
    "q20": """
        select i_item_desc, i_category, i_class, i_current_price,
          sum(cs_ext_sales_price) as itemrevenue,
          sum(cs_ext_sales_price)*100/sum(sum(cs_ext_sales_price)) over
                  (partition by i_class) as revenueratio
        from catalog_sales, item, date_dim
        where cs_item_sk = i_item_sk
          and i_category in ('Sports', 'Books', 'Home')
          and cs_sold_date_sk = d_date_sk
          and d_date between cast('1999-02-22' as date)
                         and (cast('1999-02-22' as date) + 30)
        group by i_item_id, i_item_desc, i_category, i_class, i_current_price
        order by i_category, i_class, i_item_id, i_item_desc, revenueratio
        LIMIT 100
    """,
    "q26": """
        select i_item_id,
               avg(cs_quantity) agg1,
               avg(cs_list_price) agg2,
               avg(cs_coupon_amt) agg3,
               avg(cs_sales_price) agg4
        from catalog_sales, customer_demographics, date_dim, item, promotion
        where cs_sold_date_sk = d_date_sk and
              cs_item_sk = i_item_sk and
              cs_bill_cdemo_sk = cd_demo_sk and
              cs_promo_sk = p_promo_sk and
              cd_gender = 'M' and
              cd_marital_status = 'S' and
              cd_education_status = 'College' and
              (p_channel_email = 'N' or p_channel_event = 'N') and
              d_year = 2000
        group by i_item_id
        order by i_item_id
        limit 100
    """,
    "q28": """
        select *
        from (select avg(ss_list_price) B1_LP
                    ,count(ss_list_price) B1_CNT
                    ,count(distinct ss_list_price) B1_CNTD
              from store_sales
              where ss_quantity between 0 and 5
                and (ss_list_price between 8 and 8+10
                     or ss_coupon_amt between 459 and 459+1000
                     or ss_wholesale_cost between 57 and 57+20)) B1,
             (select avg(ss_list_price) B2_LP
                    ,count(ss_list_price) B2_CNT
                    ,count(distinct ss_list_price) B2_CNTD
              from store_sales
              where ss_quantity between 6 and 10
                and (ss_list_price between 90 and 90+10
                     or ss_coupon_amt between 2323 and 2323+1000
                     or ss_wholesale_cost between 31 and 31+20)) B2,
             (select avg(ss_list_price) B3_LP
                    ,count(ss_list_price) B3_CNT
                    ,count(distinct ss_list_price) B3_CNTD
              from store_sales
              where ss_quantity between 11 and 15
                and (ss_list_price between 142 and 142+10
                     or ss_coupon_amt between 12214 and 12214+1000
                     or ss_wholesale_cost between 79 and 79+20)) B3,
             (select avg(ss_list_price) B4_LP
                    ,count(ss_list_price) B4_CNT
                    ,count(distinct ss_list_price) B4_CNTD
              from store_sales
              where ss_quantity between 16 and 20
                and (ss_list_price between 135 and 135+10
                     or ss_coupon_amt between 6071 and 6071+1000
                     or ss_wholesale_cost between 38 and 38+20)) B4,
             (select avg(ss_list_price) B5_LP
                    ,count(ss_list_price) B5_CNT
                    ,count(distinct ss_list_price) B5_CNTD
              from store_sales
              where ss_quantity between 21 and 25
                and (ss_list_price between 122 and 122+10
                     or ss_coupon_amt between 836 and 836+1000
                     or ss_wholesale_cost between 17 and 17+20)) B5,
             (select avg(ss_list_price) B6_LP
                    ,count(ss_list_price) B6_CNT
                    ,count(distinct ss_list_price) B6_CNTD
              from store_sales
              where ss_quantity between 26 and 30
                and (ss_list_price between 154 and 154+10
                     or ss_coupon_amt between 7326 and 7326+1000
                     or ss_wholesale_cost between 7 and 7+20)) B6
        limit 100
    """,
    "q35": """
        select
         ca_state,
         cd_gender,
         cd_marital_status,
         count(*) cnt1,
         min(cd_dep_count) min_dep,
         max(cd_dep_count) max_dep,
         avg(cd_dep_count) avg_dep,
         cd_dep_employed_count,
         count(*) cnt2,
         min(cd_dep_employed_count) min_emp,
         max(cd_dep_employed_count) max_emp,
         avg(cd_dep_employed_count) avg_emp,
         cd_dep_college_count,
         count(*) cnt3,
         min(cd_dep_college_count) min_col,
         max(cd_dep_college_count) max_col,
         avg(cd_dep_college_count) avg_col
        from
         customer c,customer_address ca,customer_demographics
        where
         c.c_current_addr_sk = ca.ca_address_sk and
         cd_demo_sk = c.c_current_cdemo_sk and
         exists (select * from store_sales, date_dim
                 where c.c_customer_sk = ss_customer_sk and
                       ss_sold_date_sk = d_date_sk and
                       d_year = 2002 and
                       d_qoy < 4) and
          (exists (select * from web_sales, date_dim
                   where c.c_customer_sk = ws_bill_customer_sk and
                         ws_sold_date_sk = d_date_sk and
                         d_year = 2002 and
                         d_qoy < 4) or
           exists (select * from catalog_sales, date_dim
                   where c.c_customer_sk = cs_ship_customer_sk and
                         cs_sold_date_sk = d_date_sk and
                         d_year = 2002 and
                         d_qoy < 4))
        group by ca_state, cd_gender, cd_marital_status, cd_dep_count,
                 cd_dep_employed_count, cd_dep_college_count
        order by ca_state, cd_gender, cd_marital_status, cd_dep_count,
                 cd_dep_employed_count, cd_dep_college_count
        limit 100
    """,
    "q36": """
        select
           sum(ss_net_profit)/sum(ss_ext_sales_price) as gross_margin
          ,i_category
          ,i_class
          ,grouping(i_category)+grouping(i_class) as lochierarchy
          ,rank() over (
            partition by grouping(i_category)+grouping(i_class),
            case when grouping(i_class) = 0 then i_category end
            order by sum(ss_net_profit)/sum(ss_ext_sales_price) asc) as rank_within_parent
        from store_sales, date_dim d1, item, store
        where d1.d_year = 2001
           and d1.d_date_sk = ss_sold_date_sk
           and i_item_sk = ss_item_sk
           and s_store_sk = ss_store_sk
           and s_state in ('TN','TN','TN','TN','TN','TN','TN','TN')
        group by rollup(i_category,i_class)
        order by
          lochierarchy desc
         ,case when lochierarchy = 0 then i_category end
         ,rank_within_parent, i_category, i_class
        limit 100
    """,
    "q38": """
        select count(*) n_hot_cust from (
           select distinct c_last_name, c_first_name, d_date
           from store_sales, date_dim, customer
                 where store_sales.ss_sold_date_sk = date_dim.d_date_sk
             and store_sales.ss_customer_sk = customer.c_customer_sk
             and d_month_seq between 1200 and 1200 + 11
         intersect
           select distinct c_last_name, c_first_name, d_date
           from catalog_sales, date_dim, customer
                 where catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
             and catalog_sales.cs_bill_customer_sk = customer.c_customer_sk
             and d_month_seq between 1200 and 1200 + 11
         intersect
           select distinct c_last_name, c_first_name, d_date
           from web_sales, date_dim, customer
                 where web_sales.ws_sold_date_sk = date_dim.d_date_sk
             and web_sales.ws_bill_customer_sk = customer.c_customer_sk
             and d_month_seq between 1200 and 1200 + 11
        ) hot_cust
        limit 100
    """,
    "q50": """
        select
           s_store_name, s_company_id, s_street_number, s_street_name,
           s_street_type, s_suite_number, s_city, s_county, s_state, s_zip
          ,sum(case when (sr_returned_date_sk - ss_sold_date_sk <= 30) then 1 else 0 end) as d30
          ,sum(case when (sr_returned_date_sk - ss_sold_date_sk > 30) and
                         (sr_returned_date_sk - ss_sold_date_sk <= 60) then 1 else 0 end) as d31_60
          ,sum(case when (sr_returned_date_sk - ss_sold_date_sk > 60) and
                         (sr_returned_date_sk - ss_sold_date_sk <= 90) then 1 else 0 end) as d61_90
          ,sum(case when (sr_returned_date_sk - ss_sold_date_sk > 90) and
                         (sr_returned_date_sk - ss_sold_date_sk <= 120) then 1 else 0 end) as d91_120
          ,sum(case when (sr_returned_date_sk - ss_sold_date_sk > 120) then 1 else 0 end) as dgt120
        from store_sales, store_returns, store, date_dim d1, date_dim d2
        where d2.d_year = 2001
        and d2.d_moy = 8
        and ss_ticket_number = sr_ticket_number
        and ss_item_sk = sr_item_sk
        and ss_sold_date_sk = d1.d_date_sk
        and sr_returned_date_sk = d2.d_date_sk
        and ss_customer_sk = sr_customer_sk
        and ss_store_sk = s_store_sk
        group by
            s_store_name, s_company_id, s_street_number, s_street_name,
            s_street_type, s_suite_number, s_city, s_county, s_state, s_zip
        order by
            s_store_name, s_company_id, s_street_number, s_street_name,
            s_street_type, s_suite_number, s_city, s_county, s_state, s_zip
        limit 100
    """,
    "q13": """
        select avg(ss_quantity) avg_qty
              ,avg(ss_ext_sales_price) avg_esp
              ,avg(ss_ext_wholesale_cost) avg_ewc
              ,sum(ss_ext_wholesale_cost) sum_ewc
        from store_sales
            ,store
            ,customer_demographics
            ,household_demographics
            ,customer_address
            ,date_dim
        where s_store_sk = ss_store_sk
        and  ss_sold_date_sk = d_date_sk and d_year = 2001
        and((ss_hdemo_sk=hd_demo_sk
         and cd_demo_sk = ss_cdemo_sk
         and cd_marital_status = 'M'
         and cd_education_status = 'Advanced Degree'
         and ss_sales_price between 100.00 and 150.00
         and hd_dep_count = 3
            )or
            (ss_hdemo_sk=hd_demo_sk
         and cd_demo_sk = ss_cdemo_sk
         and cd_marital_status = 'S'
         and cd_education_status = 'College'
         and ss_sales_price between 50.00 and 100.00
         and hd_dep_count = 1
            ) or
            (ss_hdemo_sk=hd_demo_sk
         and cd_demo_sk = ss_cdemo_sk
         and cd_marital_status = 'W'
         and cd_education_status = '2 yr Degree'
         and ss_sales_price between 150.00 and 200.00
         and hd_dep_count = 1
            ))
        and((ss_addr_sk = ca_address_sk
         and ca_country = 'United States'
         and ca_state in ('TX', 'OH', 'TX')
         and ss_net_profit between 100 and 2000
            ) or
            (ss_addr_sk = ca_address_sk
         and ca_country = 'United States'
         and ca_state in ('CA', 'WA', 'NY')
         and ss_net_profit between 150 and 3000
            ) or
            (ss_addr_sk = ca_address_sk
         and ca_country = 'United States'
         and ca_state in ('GA', 'TX', 'MI')
         and ss_net_profit between 50 and 2500
            ))
    """,
    "q83": """
        with sr_items as
         (select i_item_id item_id, sum(sr_return_quantity) sr_item_qty
          from store_returns, item, date_dim
          where sr_item_sk = i_item_sk
             and  d_date in (select d_date from date_dim where d_week_seq in
                      (select d_week_seq from date_dim where d_date in ('2000-06-30','2000-09-27','2000-11-17')))
             and sr_returned_date_sk   = d_date_sk
          group by i_item_id),
        cr_items as
         (select i_item_id item_id, sum(cr_return_quantity) cr_item_qty
         from catalog_returns, item, date_dim
         where cr_item_sk = i_item_sk
             and d_date in (select d_date from date_dim where d_week_seq in
                      (select d_week_seq from date_dim where d_date in ('2000-06-30','2000-09-27','2000-11-17')))
             and cr_returned_date_sk   = d_date_sk
             group by i_item_id),
        wr_items as
         (select i_item_id item_id, sum(wr_return_quantity) wr_item_qty
         from web_returns, item, date_dim
         where wr_item_sk = i_item_sk and d_date in
             (select d_date from date_dim where d_week_seq in
                      (select d_week_seq from date_dim where d_date in ('2000-06-30','2000-09-27','2000-11-17')))
           and wr_returned_date_sk = d_date_sk
         group by i_item_id)
        select sr_items.item_id
              ,sr_item_qty
              ,sr_item_qty/(sr_item_qty+cr_item_qty+wr_item_qty)/3.0 * 100 sr_dev
              ,cr_item_qty
              ,cr_item_qty/(sr_item_qty+cr_item_qty+wr_item_qty)/3.0 * 100 cr_dev
              ,wr_item_qty
              ,wr_item_qty/(sr_item_qty+cr_item_qty+wr_item_qty)/3.0 * 100 wr_dev
              ,(sr_item_qty+cr_item_qty+wr_item_qty)/3.0 average
        from sr_items, cr_items, wr_items
        where sr_items.item_id=cr_items.item_id
          and sr_items.item_id=wr_items.item_id
        order by sr_items.item_id, sr_item_qty
        limit 100
    """,
    "q84": """
        select c_customer_id as customer_id
              ,concat(c_last_name, ', ', c_first_name) as customername
        from customer
            ,customer_address
            ,customer_demographics
            ,household_demographics
            ,income_band
            ,store_returns
        where ca_city = 'Edgewood'
          and c_current_addr_sk = ca_address_sk
          and ib_lower_bound >= 38128
          and ib_upper_bound <= 38128 + 50000
          and ib_income_band_sk = hd_income_band_sk
          and cd_demo_sk = c_current_cdemo_sk
          and hd_demo_sk = c_current_hdemo_sk
          and sr_cdemo_sk = cd_demo_sk
        order by c_customer_id
        limit 100
    """,
    "q87": """
        select count(*) n_cool_cust
        from ((select distinct c_last_name, c_first_name, d_date
              from store_sales, date_dim, customer
              where store_sales.ss_sold_date_sk = date_dim.d_date_sk
                and store_sales.ss_customer_sk = customer.c_customer_sk
                and d_month_seq between 1200 and 1200+11)
              except
             (select distinct c_last_name, c_first_name, d_date
              from catalog_sales, date_dim, customer
              where catalog_sales.cs_sold_date_sk = date_dim.d_date_sk
                and catalog_sales.cs_bill_customer_sk = customer.c_customer_sk
                and d_month_seq between 1200 and 1200+11)
              except
             (select distinct c_last_name, c_first_name, d_date
              from web_sales, date_dim, customer
              where web_sales.ws_sold_date_sk = date_dim.d_date_sk
                and web_sales.ws_bill_customer_sk = customer.c_customer_sk
                and d_month_seq between 1200 and 1200+11)
        ) cool_cust
    """,
    "q88": """
        select *
        from
          (select count(*) h8_30_to_9
           from store_sales, household_demographics, time_dim, store
           where ss_sold_time_sk = time_dim.t_time_sk
            and ss_hdemo_sk = household_demographics.hd_demo_sk
            and ss_store_sk = s_store_sk
            and time_dim.t_hour = 8 and time_dim.t_minute >= 30
            and ((household_demographics.hd_dep_count = 4 and household_demographics.hd_vehicle_count<=4+2) or
                 (household_demographics.hd_dep_count = 2 and household_demographics.hd_vehicle_count<=2+2) or
                 (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count<=0+2))
            and store.s_store_name = 'ese') s1,
          (select count(*) h9_to_9_30
           from store_sales, household_demographics, time_dim, store
           where ss_sold_time_sk = time_dim.t_time_sk
             and ss_hdemo_sk = household_demographics.hd_demo_sk
             and ss_store_sk = s_store_sk
             and time_dim.t_hour = 9 and time_dim.t_minute < 30
             and ((household_demographics.hd_dep_count = 4 and household_demographics.hd_vehicle_count<=4+2) or
                  (household_demographics.hd_dep_count = 2 and household_demographics.hd_vehicle_count<=2+2) or
                  (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count<=0+2))
             and store.s_store_name = 'ese') s2,
          (select count(*) h9_30_to_10
           from store_sales, household_demographics, time_dim, store
           where ss_sold_time_sk = time_dim.t_time_sk
             and ss_hdemo_sk = household_demographics.hd_demo_sk
             and ss_store_sk = s_store_sk
             and time_dim.t_hour = 9 and time_dim.t_minute >= 30
             and ((household_demographics.hd_dep_count = 4 and household_demographics.hd_vehicle_count<=4+2) or
                  (household_demographics.hd_dep_count = 2 and household_demographics.hd_vehicle_count<=2+2) or
                  (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count<=0+2))
             and store.s_store_name = 'ese') s3,
          (select count(*) h10_to_10_30
           from store_sales, household_demographics, time_dim, store
           where ss_sold_time_sk = time_dim.t_time_sk
             and ss_hdemo_sk = household_demographics.hd_demo_sk
             and ss_store_sk = s_store_sk
             and time_dim.t_hour = 10 and time_dim.t_minute < 30
             and ((household_demographics.hd_dep_count = 4 and household_demographics.hd_vehicle_count<=4+2) or
                  (household_demographics.hd_dep_count = 2 and household_demographics.hd_vehicle_count<=2+2) or
                  (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count<=0+2))
             and store.s_store_name = 'ese') s4,
          (select count(*) h10_30_to_11
           from store_sales, household_demographics, time_dim, store
           where ss_sold_time_sk = time_dim.t_time_sk
             and ss_hdemo_sk = household_demographics.hd_demo_sk
             and ss_store_sk = s_store_sk
             and time_dim.t_hour = 10 and time_dim.t_minute >= 30
             and ((household_demographics.hd_dep_count = 4 and household_demographics.hd_vehicle_count<=4+2) or
                  (household_demographics.hd_dep_count = 2 and household_demographics.hd_vehicle_count<=2+2) or
                  (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count<=0+2))
             and store.s_store_name = 'ese') s5,
          (select count(*) h11_to_11_30
           from store_sales, household_demographics, time_dim, store
           where ss_sold_time_sk = time_dim.t_time_sk
             and ss_hdemo_sk = household_demographics.hd_demo_sk
             and ss_store_sk = s_store_sk
             and time_dim.t_hour = 11 and time_dim.t_minute < 30
             and ((household_demographics.hd_dep_count = 4 and household_demographics.hd_vehicle_count<=4+2) or
                  (household_demographics.hd_dep_count = 2 and household_demographics.hd_vehicle_count<=2+2) or
                  (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count<=0+2))
             and store.s_store_name = 'ese') s6,
          (select count(*) h11_30_to_12
           from store_sales, household_demographics, time_dim, store
           where ss_sold_time_sk = time_dim.t_time_sk
             and ss_hdemo_sk = household_demographics.hd_demo_sk
             and ss_store_sk = s_store_sk
             and time_dim.t_hour = 11 and time_dim.t_minute >= 30
             and ((household_demographics.hd_dep_count = 4 and household_demographics.hd_vehicle_count<=4+2) or
                  (household_demographics.hd_dep_count = 2 and household_demographics.hd_vehicle_count<=2+2) or
                  (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count<=0+2))
             and store.s_store_name = 'ese') s7,
          (select count(*) h12_to_12_30
           from store_sales, household_demographics, time_dim, store
           where ss_sold_time_sk = time_dim.t_time_sk
             and ss_hdemo_sk = household_demographics.hd_demo_sk
             and ss_store_sk = s_store_sk
             and time_dim.t_hour = 12 and time_dim.t_minute < 30
             and ((household_demographics.hd_dep_count = 4 and household_demographics.hd_vehicle_count<=4+2) or
                  (household_demographics.hd_dep_count = 2 and household_demographics.hd_vehicle_count<=2+2) or
                  (household_demographics.hd_dep_count = 0 and household_demographics.hd_vehicle_count<=0+2))
             and store.s_store_name = 'ese') s8
    """,
    "q93": """
        select ss_customer_sk, sum(act_sales) sumsales
        from (select
                ss_item_sk, ss_ticket_number, ss_customer_sk,
                case when sr_return_quantity is not null
                     then (ss_quantity-sr_return_quantity)*ss_sales_price
                     else (ss_quantity*ss_sales_price) end act_sales
              from store_sales
              left outer join store_returns
              on (sr_item_sk = ss_item_sk and sr_ticket_number = ss_ticket_number),
              reason
              where sr_reason_sk = r_reason_sk and r_reason_desc = 'reason 28') t
        group by ss_customer_sk
        order by sumsales, ss_customer_sk
        limit 100
    """,
    "q96": """
        select count(*) n_trips
        from store_sales, household_demographics, time_dim, store
        where ss_sold_time_sk = time_dim.t_time_sk
            and ss_hdemo_sk = household_demographics.hd_demo_sk
            and ss_store_sk = s_store_sk
            and time_dim.t_hour = 20
            and time_dim.t_minute >= 30
            and household_demographics.hd_dep_count = 7
            and store.s_store_name = 'ese'
        order by count(*)
        limit 100
    """,
    "q14a": """
        with cross_items as
        (select i_item_sk ss_item_sk
        from item,
           (select iss.i_brand_id brand_id, iss.i_class_id class_id, iss.i_category_id category_id
            from store_sales, item iss, date_dim d1
            where ss_item_sk = iss.i_item_sk
              and ss_sold_date_sk = d1.d_date_sk
              and d1.d_year between 1999 AND 1999 + 2
          intersect
            select ics.i_brand_id, ics.i_class_id, ics.i_category_id
            from catalog_sales, item ics, date_dim d2
            where cs_item_sk = ics.i_item_sk
              and cs_sold_date_sk = d2.d_date_sk
              and d2.d_year between 1999 AND 1999 + 2
          intersect
            select iws.i_brand_id, iws.i_class_id, iws.i_category_id
            from web_sales, item iws, date_dim d3
            where ws_item_sk = iws.i_item_sk
              and ws_sold_date_sk = d3.d_date_sk
              and d3.d_year between 1999 AND 1999 + 2) x
        where i_brand_id = brand_id
          and i_class_id = class_id
          and i_category_id = category_id
        ),
        avg_sales as
        (select avg(quantity*list_price) average_sales
         from (
            select ss_quantity quantity, ss_list_price list_price
            from store_sales, date_dim
            where ss_sold_date_sk = d_date_sk
              and d_year between 1999 and 2001
          union all
            select cs_quantity quantity, cs_list_price list_price
            from catalog_sales, date_dim
            where cs_sold_date_sk = d_date_sk
              and d_year between 1999 and 1999 + 2
          union all
            select ws_quantity quantity, ws_list_price list_price
            from web_sales, date_dim
            where ws_sold_date_sk = d_date_sk
              and d_year between 1999 and 1999 + 2) x)
        select channel, i_brand_id,i_class_id,i_category_id,sum(sales) sum_sales, sum(number_sales) sum_number_sales
        from(
            select 'store' channel, i_brand_id,i_class_id
                    ,i_category_id,sum(ss_quantity*ss_list_price) sales
                    , count(*) number_sales
            from store_sales, item, date_dim
            where ss_item_sk in (select ss_item_sk from cross_items)
              and ss_item_sk = i_item_sk
              and ss_sold_date_sk = d_date_sk
              and d_year = 1999+2
              and d_moy = 11
            group by i_brand_id,i_class_id,i_category_id
            having sum(ss_quantity*ss_list_price) > (select average_sales from avg_sales)
          union all
            select 'catalog' channel, i_brand_id,i_class_id,i_category_id, sum(cs_quantity*cs_list_price) sales, count(*) number_sales
            from catalog_sales, item, date_dim
            where cs_item_sk in (select ss_item_sk from cross_items)
              and cs_item_sk = i_item_sk
              and cs_sold_date_sk = d_date_sk
              and d_year = 1999+2
              and d_moy = 11
            group by i_brand_id,i_class_id,i_category_id
            having sum(cs_quantity*cs_list_price) > (select average_sales from avg_sales)
          union all
            select 'web' channel, i_brand_id,i_class_id,i_category_id, sum(ws_quantity*ws_list_price) sales , count(*) number_sales
            from web_sales, item, date_dim
            where ws_item_sk in (select ss_item_sk from cross_items)
              and ws_item_sk = i_item_sk
              and ws_sold_date_sk = d_date_sk
              and d_year = 1999+2
              and d_moy = 11
            group by i_brand_id,i_class_id,i_category_id
            having sum(ws_quantity*ws_list_price) > (select average_sales from avg_sales)
        ) y
        group by rollup (channel, i_brand_id,i_class_id,i_category_id)
        order by channel nulls first, i_brand_id nulls first, i_class_id nulls first, i_category_id nulls first
        limit 100
    """,
    "q14b": """
        with  cross_items as
        (select i_item_sk ss_item_sk
         from item,
            (select iss.i_brand_id brand_id, iss.i_class_id class_id, iss.i_category_id category_id
             from store_sales, item iss, date_dim d1
             where ss_item_sk = iss.i_item_sk
                and ss_sold_date_sk = d1.d_date_sk
                and d1.d_year between 1999 AND 1999 + 2
            intersect
              select ics.i_brand_id, ics.i_class_id, ics.i_category_id
              from catalog_sales, item ics, date_dim d2
              where cs_item_sk = ics.i_item_sk
                and cs_sold_date_sk = d2.d_date_sk
                and d2.d_year between 1999 AND 1999 + 2
            intersect
              select iws.i_brand_id, iws.i_class_id, iws.i_category_id
              from web_sales, item iws, date_dim d3
              where ws_item_sk = iws.i_item_sk
                and ws_sold_date_sk = d3.d_date_sk
                and d3.d_year between 1999 AND 1999 + 2) x
         where i_brand_id = brand_id
           and i_class_id = class_id
           and i_category_id = category_id
        ),
        avg_sales as
        (select avg(quantity*list_price) average_sales
         from (select ss_quantity quantity, ss_list_price list_price
                from store_sales, date_dim
                where ss_sold_date_sk = d_date_sk and d_year between 1999 and 1999 + 2
              union all
                select cs_quantity quantity, cs_list_price list_price
                from catalog_sales, date_dim
                where cs_sold_date_sk = d_date_sk and d_year between 1999 and 1999 + 2
              union all
                select ws_quantity quantity, ws_list_price list_price
                from web_sales, date_dim
                where ws_sold_date_sk = d_date_sk and d_year between 1999 and 1999 + 2) x)
        select this_year.channel ty_channel, this_year.i_brand_id ty_brand,
               this_year.i_class_id ty_class, this_year.i_category_id ty_category,
               this_year.sales ty_sales, this_year.number_sales ty_number_sales,
               last_year.channel ly_channel, last_year.i_brand_id ly_brand,
               last_year.i_class_id ly_class, last_year.i_category_id ly_category,
               last_year.sales ly_sales, last_year.number_sales ly_number_sales
        from
        (select 'store' channel, i_brand_id,i_class_id,i_category_id
               ,sum(ss_quantity*ss_list_price) sales, count(*) number_sales
         from store_sales, item, date_dim
         where ss_item_sk in (select ss_item_sk from cross_items)
           and ss_item_sk = i_item_sk
           and ss_sold_date_sk = d_date_sk
           and d_week_seq = (select d_week_seq from date_dim
                            where d_year = 1999 + 1 and d_moy = 12 and d_dom = 11)
         group by i_brand_id,i_class_id,i_category_id
         having sum(ss_quantity*ss_list_price) > (select average_sales from avg_sales)) this_year,
        (select 'store' channel, i_brand_id,i_class_id
               ,i_category_id, sum(ss_quantity*ss_list_price) sales, count(*) number_sales
        from store_sales, item, date_dim
        where ss_item_sk in (select ss_item_sk from cross_items)
          and ss_item_sk = i_item_sk
          and ss_sold_date_sk = d_date_sk
          and d_week_seq = (select d_week_seq from date_dim
                            where d_year = 1999 and d_moy = 12 and d_dom = 11)
        group by i_brand_id,i_class_id,i_category_id
        having sum(ss_quantity*ss_list_price) > (select average_sales from avg_sales)) last_year
        where this_year.i_brand_id= last_year.i_brand_id
          and this_year.i_class_id = last_year.i_class_id
          and this_year.i_category_id = last_year.i_category_id
        order by this_year.channel, this_year.i_brand_id, this_year.i_class_id, this_year.i_category_id
        limit 100
    """,
    "q15": """
        select ca_zip, sum(cs_sales_price) as sum_sales
        from catalog_sales, customer, customer_address, date_dim
        where cs_bill_customer_sk = c_customer_sk
          and c_current_addr_sk = ca_address_sk
          and ( substr(ca_zip,1,5) in ('85669','86197','88274','83405','86475',
                                       '85392','85460','80348','81792')
                or ca_state in ('CA','WA','GA')
                or cs_sales_price > 500)
          and cs_sold_date_sk = d_date_sk
          and d_qoy = 2 and d_year = 2001
        group by ca_zip
        order by ca_zip
        limit 100
    """,
    "q17": """
        select i_item_id, i_item_desc, s_state,
               count(ss_quantity) as store_sales_quantitycount,
               avg(ss_quantity) as store_sales_quantityave,
               stddev_samp(ss_quantity) as store_sales_quantitystdev,
               stddev_samp(ss_quantity)/avg(ss_quantity) as store_sales_quantitycov,
               count(sr_return_quantity) as store_returns_quantitycount,
               avg(sr_return_quantity) as store_returns_quantityave,
               stddev_samp(sr_return_quantity) as store_returns_quantitystdev,
               stddev_samp(sr_return_quantity)/avg(sr_return_quantity) as store_returns_quantitycov,
               count(cs_quantity) as catalog_sales_quantitycount,
               avg(cs_quantity) as catalog_sales_quantityave,
               stddev_samp(cs_quantity)/avg(cs_quantity) as catalog_sales_quantitystdev,
               stddev_samp(cs_quantity)/avg(cs_quantity) as catalog_sales_quantitycov
        from store_sales, store_returns, catalog_sales, date_dim d1, date_dim d2,
             date_dim d3, store, item
        where d1.d_quarter_name = '2001Q1'
          and d1.d_date_sk = ss_sold_date_sk
          and i_item_sk = ss_item_sk
          and s_store_sk = ss_store_sk
          and ss_customer_sk = sr_customer_sk
          and ss_item_sk = sr_item_sk
          and ss_ticket_number = sr_ticket_number
          and sr_returned_date_sk = d2.d_date_sk
          and d2.d_quarter_name in ('2001Q1','2001Q2','2001Q3')
          and sr_customer_sk = cs_bill_customer_sk
          and sr_item_sk = cs_item_sk
          and cs_sold_date_sk = d3.d_date_sk
          and d3.d_quarter_name in ('2001Q1','2001Q2','2001Q3')
        group by i_item_id, i_item_desc, s_state
        order by i_item_id, i_item_desc, s_state
        limit 100
    """,
    "q21": """
        select * from(
          select w_warehouse_name, i_item_id,
                 sum(case when (cast(d_date as date) < cast('2000-03-11' as date))
                          then inv_quantity_on_hand else 0 end) as inv_before,
                 sum(case when (cast(d_date as date) >= cast('2000-03-11' as date))
                          then inv_quantity_on_hand else 0 end) as inv_after
          from inventory, warehouse, item, date_dim
          where i_current_price between 0.99 and 19.99
            and i_item_sk          = inv_item_sk
            and inv_warehouse_sk   = w_warehouse_sk
            and inv_date_sk        = d_date_sk
            and d_date between (cast('2000-03-11' as date) - 30)
                           and (cast('2000-03-11' as date) + 30)
          group by w_warehouse_name, i_item_id) x
        where (case when inv_before > 0
                    then inv_after / inv_before
                    else null end) between 2.0/3.0 and 3.0/2.0
        order by w_warehouse_name, i_item_id
        limit 100
    """,
    "q22": """
        select i_product_name, i_brand, i_class, i_category,
               avg(inv_quantity_on_hand) qoh
        from inventory, date_dim, item, warehouse
        where inv_date_sk=d_date_sk
          and inv_item_sk=i_item_sk
          and inv_warehouse_sk = w_warehouse_sk
          and d_month_seq between 1200 and 1200 + 11
        group by rollup(i_product_name, i_brand, i_class, i_category)
        order by qoh, i_product_name, i_brand, i_class, i_category
        limit 100
    """,
    "q23a": """
        with frequent_ss_items as
        (select substr(i_item_desc, 1, 30) itemdesc, i_item_sk item_sk,
                d_date solddate, count(*) cnt
         from store_sales, date_dim, item
         where ss_sold_date_sk = d_date_sk
           and ss_item_sk = i_item_sk
           and d_year in (2000, 2000+1, 2000+2, 2000+3)
         group by substr(i_item_desc, 1, 30), i_item_sk, d_date
         having count(*) > 4),
        max_store_sales as
        (select max(csales) tpcds_cmax
         from (select c_customer_sk, sum(ss_quantity*ss_sales_price) csales
               from store_sales, customer, date_dim
               where ss_customer_sk = c_customer_sk
                 and ss_sold_date_sk = d_date_sk
                 and d_year in (2000, 2000+1, 2000+2, 2000+3)
               group by c_customer_sk) x),
        best_ss_customer as
        (select c_customer_sk, sum(ss_quantity*ss_sales_price) ssales
         from store_sales, customer
         where ss_customer_sk = c_customer_sk
         group by c_customer_sk
         having sum(ss_quantity*ss_sales_price) > (50/100.0) *
           (select * from max_store_sales))
        select sum(sales) as sum_sales
        from ((select cs_quantity*cs_list_price sales
               from catalog_sales, date_dim
               where d_year = 2000
                 and d_moy = 2
                 and cs_sold_date_sk = d_date_sk
                 and cs_item_sk in (select item_sk from frequent_ss_items)
                 and cs_bill_customer_sk in (select c_customer_sk from best_ss_customer))
              union all
              (select ws_quantity*ws_list_price sales
               from web_sales, date_dim
               where d_year = 2000
                 and d_moy = 2
                 and ws_sold_date_sk = d_date_sk
                 and ws_item_sk in (select item_sk from frequent_ss_items)
                 and ws_bill_customer_sk in (select c_customer_sk from best_ss_customer))) y
        limit 100
    """,
    "q23b": """
        with frequent_ss_items as
        (select substr(i_item_desc, 1, 30) itemdesc, i_item_sk item_sk,
                d_date solddate, count(*) cnt
         from store_sales, date_dim, item
         where ss_sold_date_sk = d_date_sk
           and ss_item_sk = i_item_sk
           and d_year in (2000, 2000+1, 2000+2, 2000+3)
         group by substr(i_item_desc, 1, 30), i_item_sk, d_date
         having count(*) > 4),
        max_store_sales as
        (select max(csales) tpcds_cmax
         from (select c_customer_sk, sum(ss_quantity*ss_sales_price) csales
               from store_sales, customer, date_dim
               where ss_customer_sk = c_customer_sk
                 and ss_sold_date_sk = d_date_sk
                 and d_year in (2000, 2000+1, 2000+2, 2000+3)
               group by c_customer_sk) x),
        best_ss_customer as
        (select c_customer_sk, sum(ss_quantity*ss_sales_price) ssales
         from store_sales, customer
         where ss_customer_sk = c_customer_sk
         group by c_customer_sk
         having sum(ss_quantity*ss_sales_price) > (50/100.0) *
           (select * from max_store_sales))
        select c_last_name, c_first_name, sales
        from ((select c_last_name, c_first_name, sum(cs_quantity*cs_list_price) sales
               from catalog_sales, customer, date_dim
               where d_year = 2000
                 and d_moy = 2
                 and cs_sold_date_sk = d_date_sk
                 and cs_item_sk in (select item_sk from frequent_ss_items)
                 and cs_bill_customer_sk in (select c_customer_sk from best_ss_customer)
                 and cs_bill_customer_sk = c_customer_sk
               group by c_last_name, c_first_name)
              union all
              (select c_last_name, c_first_name, sum(ws_quantity*ws_list_price) sales
               from web_sales, customer, date_dim
               where d_year = 2000
                 and d_moy = 2
                 and ws_sold_date_sk = d_date_sk
                 and ws_item_sk in (select item_sk from frequent_ss_items)
                 and ws_bill_customer_sk in (select c_customer_sk from best_ss_customer)
                 and ws_bill_customer_sk = c_customer_sk
               group by c_last_name, c_first_name)) y
        order by c_last_name, c_first_name, sales
        limit 100
    """,
    "q24a": """
        with ssales as
        (select c_last_name, c_first_name, s_store_name, ca_state, s_state, i_color,
               i_current_price, i_manager_id, i_units, i_size, sum(ss_net_paid) netpaid
        from store_sales, store_returns, store, item, customer, customer_address
        where ss_ticket_number = sr_ticket_number
          and ss_item_sk = sr_item_sk
          and ss_customer_sk = c_customer_sk
          and ss_item_sk = i_item_sk
          and ss_store_sk = s_store_sk
          and c_birth_country = upper(ca_country)
          and s_zip = ca_zip
        and s_market_id = 8
        group by c_last_name, c_first_name, s_store_name, ca_state, s_state, i_color,
                 i_current_price, i_manager_id, i_units, i_size)
        select c_last_name, c_first_name, s_store_name, sum(netpaid) paid
        from ssales
        where i_color = 'pale'
        group by c_last_name, c_first_name, s_store_name
        having sum(netpaid) > (select 0.05*avg(netpaid) from ssales)
        order by c_last_name, c_first_name, s_store_name, paid
    """,
    "q24b": """
        with ssales as
        (select c_last_name, c_first_name, s_store_name, ca_state, s_state, i_color,
                i_current_price, i_manager_id, i_units, i_size, sum(ss_net_paid) netpaid
        from store_sales, store_returns, store, item, customer, customer_address
        where ss_ticket_number = sr_ticket_number
          and ss_item_sk = sr_item_sk
          and ss_customer_sk = c_customer_sk
          and ss_item_sk = i_item_sk
          and ss_store_sk = s_store_sk
          and c_birth_country = upper(ca_country)
          and s_zip = ca_zip
          and s_market_id = 8
        group by c_last_name, c_first_name, s_store_name, ca_state, s_state,
                 i_color, i_current_price, i_manager_id, i_units, i_size)
        select c_last_name, c_first_name, s_store_name, sum(netpaid) paid
        from ssales
        where i_color = 'chiffon'
        group by c_last_name, c_first_name, s_store_name
        having sum(netpaid) > (select 0.05*avg(netpaid) from ssales)
        order by c_last_name, c_first_name, s_store_name, paid
    """,
    "q25": """
        select i_item_id, i_item_desc, s_store_id, s_store_name,
           sum(ss_net_profit) as store_sales_profit,
           sum(sr_net_loss) as store_returns_loss,
           sum(cs_net_profit) as catalog_sales_profit
        from
           store_sales, store_returns, catalog_sales, date_dim d1, date_dim d2,
           date_dim d3, store, item
        where
           d1.d_moy = 4
           and d1.d_year = 2001
           and d1.d_date_sk = ss_sold_date_sk
           and i_item_sk = ss_item_sk
           and s_store_sk = ss_store_sk
           and ss_customer_sk = sr_customer_sk
           and ss_item_sk = sr_item_sk
           and ss_ticket_number = sr_ticket_number
           and sr_returned_date_sk = d2.d_date_sk
           and d2.d_moy between 4 and 10
           and d2.d_year = 2001
           and sr_customer_sk = cs_bill_customer_sk
           and sr_item_sk = cs_item_sk
           and cs_sold_date_sk = d3.d_date_sk
           and d3.d_moy between 4 and 10
           and d3.d_year = 2001
        group by i_item_id, i_item_desc, s_store_id, s_store_name
        order by i_item_id, i_item_desc, s_store_id, s_store_name
        limit 100
    """,
    "q29": """
        select i_item_id, i_item_desc, s_store_id, s_store_name,
               sum(ss_quantity)        as store_sales_quantity,
               sum(sr_return_quantity) as store_returns_quantity,
               sum(cs_quantity)        as catalog_sales_quantity
        from
           store_sales, store_returns, catalog_sales, date_dim d1, date_dim d2,
           date_dim d3, store, item
        where
            d1.d_moy               = 9
        and d1.d_year              = 1999
        and d1.d_date_sk           = ss_sold_date_sk
        and i_item_sk              = ss_item_sk
        and s_store_sk             = ss_store_sk
        and ss_customer_sk         = sr_customer_sk
        and ss_item_sk             = sr_item_sk
        and ss_ticket_number       = sr_ticket_number
        and sr_returned_date_sk    = d2.d_date_sk
        and d2.d_moy               between 9 and  9 + 3
        and d2.d_year              = 1999
        and sr_customer_sk         = cs_bill_customer_sk
        and sr_item_sk             = cs_item_sk
        and cs_sold_date_sk        = d3.d_date_sk
        and d3.d_year              in (1999,1999+1,1999+2)
        group by i_item_id, i_item_desc, s_store_id, s_store_name
        order by i_item_id, i_item_desc, s_store_id, s_store_name
        limit 100
    """,
    "q32": """
        select sum(cs_ext_discount_amt) as excess_discount_amount
        from catalog_sales, item, date_dim
        where i_manufact_id between 950 and 1000
          and i_item_sk = cs_item_sk
          and d_date between '2000-01-27' and (cast('2000-01-27' as date) + 90)
          and d_date_sk = cs_sold_date_sk
          and cs_ext_discount_amt > (
                 select 1.3 * avg(cs_ext_discount_amt)
                 from catalog_sales, date_dim
                 where cs_item_sk = i_item_sk
                  and d_date between '2000-01-27' and (cast('2000-01-27' as date) + 90)
                  and d_date_sk = cs_sold_date_sk)
        limit 100
    """,
    "q37": """
        select i_item_id, i_item_desc, i_current_price
        from item, inventory, date_dim, catalog_sales
        where i_current_price between 48 and 48 + 50
          and inv_item_sk = i_item_sk
          and d_date_sk=inv_date_sk
          and d_date between cast('2000-02-01' as date) and (cast('2000-02-01' as date) + 60)
          and i_manufact_id between 600 and 900
          and inv_quantity_on_hand between 100 and 500
          and cs_item_sk = i_item_sk
        group by i_item_id,i_item_desc,i_current_price
        order by i_item_id
        limit 100
    """,
    "q39a": """
        with inv as
        (select w_warehouse_name,w_warehouse_sk,i_item_sk,d_moy
               ,stdev,mean, case mean when 0 then null else stdev/mean end cov
         from(select w_warehouse_name,w_warehouse_sk,i_item_sk,d_moy
                    ,stddev_samp(inv_quantity_on_hand) stdev,avg(inv_quantity_on_hand) mean
              from inventory, item, warehouse, date_dim
              where inv_item_sk = i_item_sk
                and inv_warehouse_sk = w_warehouse_sk
                and inv_date_sk = d_date_sk
                and d_year = 2001
              group by w_warehouse_name,w_warehouse_sk,i_item_sk,d_moy) foo
         where case mean when 0 then 0 else stdev/mean end > 1)
        select inv1.w_warehouse_sk wsk1,inv1.i_item_sk isk1,inv1.d_moy moy1,inv1.mean mean1,inv1.cov cov1
               ,inv2.w_warehouse_sk wsk2,inv2.i_item_sk isk2,inv2.d_moy moy2,inv2.mean mean2,inv2.cov cov2
        from inv inv1,inv inv2
        where inv1.i_item_sk = inv2.i_item_sk
          and inv1.w_warehouse_sk =  inv2.w_warehouse_sk
          and inv1.d_moy=1
          and inv2.d_moy=1+1
        order by inv1.w_warehouse_sk,inv1.i_item_sk,inv1.d_moy,inv1.mean,inv1.cov
               ,inv2.d_moy,inv2.mean, inv2.cov
    """,
    "q39b": """
        with inv as
        (select w_warehouse_name,w_warehouse_sk,i_item_sk,d_moy
               ,stdev,mean, case mean when 0 then null else stdev/mean end cov
         from(select w_warehouse_name,w_warehouse_sk,i_item_sk,d_moy
                    ,stddev_samp(inv_quantity_on_hand) stdev,avg(inv_quantity_on_hand) mean
              from inventory, item, warehouse, date_dim
              where inv_item_sk = i_item_sk
                and inv_warehouse_sk = w_warehouse_sk
                and inv_date_sk = d_date_sk
                and d_year = 2001
              group by w_warehouse_name,w_warehouse_sk,i_item_sk,d_moy) foo
         where case mean when 0 then 0 else stdev/mean end > 1)
        select inv1.w_warehouse_sk wsk1,inv1.i_item_sk isk1,inv1.d_moy moy1,inv1.mean mean1,inv1.cov cov1
               ,inv2.w_warehouse_sk wsk2,inv2.i_item_sk isk2,inv2.d_moy moy2,inv2.mean mean2,inv2.cov cov2
        from inv inv1,inv inv2
        where inv1.i_item_sk = inv2.i_item_sk
          and inv1.w_warehouse_sk =  inv2.w_warehouse_sk
          and inv1.d_moy=1
          and inv2.d_moy=1+1
          and inv1.cov > 1.5
        order by inv1.w_warehouse_sk,inv1.i_item_sk,inv1.d_moy,inv1.mean,inv1.cov
               ,inv2.d_moy,inv2.mean, inv2.cov
    """,
    "q40": """
        select
          w_state, i_item_id,
          sum(case when (cast(d_date as date) < cast('2000-03-11' as date))
                then cs_sales_price - coalesce(cr_refunded_cash,0) else 0 end) as sales_before,
          sum(case when (cast(d_date as date) >= cast('2000-03-11' as date))
                then cs_sales_price - coalesce(cr_refunded_cash,0) else 0 end) as sales_after
        from
          catalog_sales left outer join catalog_returns on
              (cs_order_number = cr_order_number
               and cs_item_sk = cr_item_sk)
         ,warehouse, item, date_dim
        where
            i_current_price between 0.99 and 9.99
        and i_item_sk          = cs_item_sk
        and cs_warehouse_sk    = w_warehouse_sk
        and cs_sold_date_sk    = d_date_sk
        and d_date between (cast('2000-03-11' as date) - 30)
                       and (cast('2000-03-11' as date) + 30)
        group by w_state,i_item_id
        order by w_state,i_item_id
        limit 100
    """,
    "q41": """
        select distinct(i_product_name)
        from item i1
        where i_manufact_id between 738 and 738+40
          and (select count(*) as item_cnt
               from item
               where (i_manufact = i1.i_manufact and
                ((i_category = 'Women' and
                  (i_color = 'powder' or i_color = 'khaki') and
                  (i_units = 'Ounce' or i_units = 'Oz') and
                  (i_size = 'medium' or i_size = 'extra large')
                 ) or
                 (i_category = 'Women' and
                  (i_color = 'brown' or i_color = 'honeydew') and
                  (i_units = 'Bunch' or i_units = 'Ton') and
                  (i_size = 'N/A' or i_size = 'small')
                 ) or
                 (i_category = 'Men' and
                  (i_color = 'floral' or i_color = 'deep') and
                  (i_units = 'N/A' or i_units = 'Dozen') and
                  (i_size = 'petite' or i_size = 'large')
                 ) or
                 (i_category = 'Men' and
                  (i_color = 'light' or i_color = 'cornflower') and
                  (i_units = 'Box' or i_units = 'Pound') and
                  (i_size = 'medium' or i_size = 'extra large')
                 ))) or
                (i_manufact = i1.i_manufact and
                ((i_category = 'Women' and
                  (i_color = 'midnight' or i_color = 'snow') and
                  (i_units = 'Pallet' or i_units = 'Gross') and
                  (i_size = 'medium' or i_size = 'extra large')
                 ) or
                 (i_category = 'Women' and
                  (i_color = 'beige' or i_color = 'rose') and
                  (i_units = 'Carton' or i_units = 'Case') and
                  (i_size = 'N/A' or i_size = 'small')
                 ) or
                 (i_category = 'Men' and
                  (i_color = 'smoke' or i_color = 'pale') and
                  (i_units = 'Each' or i_units = 'Box') and
                  (i_size = 'petite' or i_size = 'large')
                 ) or
                 (i_category = 'Men' and
                  (i_color = 'metallic' or i_color = 'antique') and
                  (i_units = 'Lb' or i_units = 'Bunch') and
                  (i_size = 'medium' or i_size = 'extra large')
                 )))) > 0
        order by i_product_name
        limit 100
    """,
    "q44": """
        select asceding.rnk, i1.i_product_name best_performing, i2.i_product_name worst_performing
        from(select *
            from (select item_sk,rank() over (order by rank_col asc) rnk
                  from (select ss_item_sk item_sk,avg(ss_net_profit) rank_col
                        from store_sales ss1
                        where ss_store_sk = 4
                        group by ss_item_sk
                        having avg(ss_net_profit) > 0.9*(select avg(ss_net_profit) rank_col
                                                         from store_sales
                                                         where ss_store_sk = 4
                                                           and ss_addr_sk is null
                                                         group by ss_store_sk))V1)V11
            where rnk  < 11) asceding,
           (select *
            from (select item_sk,rank() over (order by rank_col desc) rnk
                  from (select ss_item_sk item_sk,avg(ss_net_profit) rank_col
                        from store_sales ss1
                        where ss_store_sk = 4
                        group by ss_item_sk
                        having avg(ss_net_profit) > 0.9*(select avg(ss_net_profit) rank_col
                                                         from store_sales
                                                         where ss_store_sk = 4
                                                           and ss_addr_sk is null
                                                         group by ss_store_sk))V2)V21
            where rnk  < 11) descending,
        item i1, item i2
        where asceding.rnk = descending.rnk
          and i1.i_item_sk=asceding.item_sk
          and i2.i_item_sk=descending.item_sk
        order by asceding.rnk
        limit 100
    """,
    "q45": """
        select ca_zip, ca_city, sum(ws_sales_price) as sum_sales
        from web_sales, customer, customer_address, date_dim, item
        where ws_bill_customer_sk = c_customer_sk
          and c_current_addr_sk = ca_address_sk
          and ws_item_sk = i_item_sk
          and ( substr(ca_zip,1,2) in ('85','86','88','83','80','81')
                or
                i_item_id in (select i_item_id
                              from item
                              where i_item_sk in (2, 3, 5, 7, 11, 13, 17, 19, 23, 29))
              )
          and ws_sold_date_sk = d_date_sk
          and d_qoy = 2 and d_year = 2001
        group by ca_zip, ca_city
        order by ca_zip, ca_city
        limit 100
    """,
    "q48": """
        select sum (ss_quantity) as quantity_sum
        from store_sales, store, customer_demographics, customer_address, date_dim
        where s_store_sk = ss_store_sk
        and  ss_sold_date_sk = d_date_sk and d_year = 2001
        and
        (
         (cd_demo_sk = ss_cdemo_sk
          and cd_marital_status = 'M'
          and cd_education_status = '4 yr Degree'
          and ss_sales_price between 100.00 and 150.00)
        or
         (cd_demo_sk = ss_cdemo_sk
          and cd_marital_status = 'D'
          and cd_education_status = '2 yr Degree'
          and ss_sales_price between 50.00 and 100.00)
        or
         (cd_demo_sk = ss_cdemo_sk
          and cd_marital_status = 'S'
          and cd_education_status = 'College'
          and ss_sales_price between 150.00 and 200.00)
        )
        and
        (
         (ss_addr_sk = ca_address_sk
          and ca_country = 'United States'
          and ca_state in ('CO', 'OH', 'TX')
          and ss_net_profit between 0 and 2000)
        or
         (ss_addr_sk = ca_address_sk
          and ca_country = 'United States'
          and ca_state in ('OR', 'MN', 'KY')
          and ss_net_profit between 150 and 3000)
        or
         (ss_addr_sk = ca_address_sk
          and ca_country = 'United States'
          and ca_state in ('VA', 'CA', 'MS')
          and ss_net_profit between 50 and 25000)
        )
    """,
    "q62": """
        select
          substr(w_warehouse_name,1,20) as warehouse_prefix
         ,sm_type
         ,web_name
         ,sum(case when (ws_ship_date_sk - ws_sold_date_sk <= 30 ) then 1 else 0 end) as d30
         ,sum(case when (ws_ship_date_sk - ws_sold_date_sk > 30) and
                        (ws_ship_date_sk - ws_sold_date_sk <= 60) then 1 else 0 end) as d31_60
         ,sum(case when (ws_ship_date_sk - ws_sold_date_sk > 60) and
                        (ws_ship_date_sk - ws_sold_date_sk <= 90) then 1 else 0 end) as d61_90
         ,sum(case when (ws_ship_date_sk - ws_sold_date_sk > 90) and
                        (ws_ship_date_sk - ws_sold_date_sk <= 120) then 1 else 0 end) as d91_120
         ,sum(case when (ws_ship_date_sk - ws_sold_date_sk  > 120) then 1 else 0 end) as dgt120
        from web_sales, warehouse, ship_mode, web_site, date_dim
        where d_month_seq between 1200 and 1200 + 11
          and ws_ship_date_sk   = d_date_sk
          and ws_warehouse_sk   = w_warehouse_sk
          and ws_ship_mode_sk   = sm_ship_mode_sk
          and ws_web_site_sk    = web_site_sk
        group by substr(w_warehouse_name,1,20), sm_type, web_name
        order by warehouse_prefix, sm_type, web_name
        limit 100
    """,
    "q82": """
        select i_item_id, i_item_desc, i_current_price
        from item, inventory, date_dim, store_sales
        where i_current_price between 42 and 42+50
          and inv_item_sk = i_item_sk
          and d_date_sk=inv_date_sk
          and d_date between cast('2000-05-25' as date) and (cast('2000-05-25' as date) + 60)
          and i_manufact_id between 100 and 400
          and inv_quantity_on_hand between 100 and 500
          and ss_item_sk = i_item_sk
        group by i_item_id,i_item_desc,i_current_price
        order by i_item_id
        limit 100
    """,
    "q90": """
        select cast(amc as decimal(15,4))/cast(pmc as decimal(15,4)) am_pm_ratio
        from ( select count(*) amc
              from web_sales, household_demographics, time_dim, web_page
              where ws_sold_time_sk = time_dim.t_time_sk
                and ws_ship_hdemo_sk = household_demographics.hd_demo_sk
                and ws_web_page_sk = web_page.wp_web_page_sk
                and time_dim.t_hour between 8 and 8+1
                and household_demographics.hd_dep_count = 6
                and web_page.wp_char_count between 4000 and 6000) at,
             ( select count(*) pmc
              from web_sales, household_demographics, time_dim, web_page
              where ws_sold_time_sk = time_dim.t_time_sk
                and ws_ship_hdemo_sk = household_demographics.hd_demo_sk
                and ws_web_page_sk = web_page.wp_web_page_sk
                and time_dim.t_hour between 19 and 19+1
                and household_demographics.hd_dep_count = 6
                and web_page.wp_char_count between 4000 and 6000) pt
        order by am_pm_ratio
        limit 100
    """,
    "q91": """
        select
               cc_call_center_id Call_Center, cc_name Call_Center_Name, cc_manager Manager,
               sum(cr_net_loss) Returns_Loss
        from
               call_center, catalog_returns, date_dim, customer, customer_address,
               customer_demographics, household_demographics
        where
               cr_call_center_sk        = cc_call_center_sk
        and    cr_returned_date_sk      = d_date_sk
        and    cr_returning_customer_sk = c_customer_sk
        and    cd_demo_sk               = c_current_cdemo_sk
        and    hd_demo_sk               = c_current_hdemo_sk
        and    ca_address_sk            = c_current_addr_sk
        and    d_year                   = 1998
        and    d_moy                    between 9 and 12
        and    ( (cd_marital_status     = 'M' and cd_education_status = 'Unknown')
               or(cd_marital_status     = 'W' and cd_education_status = 'Advanced Degree'))
        and    hd_buy_potential like 'Unknown%'
        and    ca_gmt_offset            in (-7, -6)
        group by cc_call_center_id,cc_name,cc_manager,cd_marital_status,cd_education_status
        order by sum(cr_net_loss) desc
    """,
    "q92": """
        select sum(ws_ext_discount_amt) as excess_discount_amount
        from web_sales, item, date_dim
        where i_manufact_id between 320 and 370
        and i_item_sk = ws_item_sk
        and d_date between '2000-01-27' and (cast('2000-01-27' as date) + 90)
        and d_date_sk = ws_sold_date_sk
        and ws_ext_discount_amt >
            (
              SELECT 1.3 * avg(ws_ext_discount_amt)
              FROM web_sales, date_dim
              WHERE ws_item_sk = i_item_sk
                and d_date between '2000-01-27' and (cast('2000-01-27' as date) + 90)
                and d_date_sk = ws_sold_date_sk
            )
        order by excess_discount_amount
        limit 100
    """,
    "q99": """
        select
           substr(w_warehouse_name,1,20) as warehouse_prefix
          ,sm_type
          ,cc_name
          ,sum(case when (cs_ship_date_sk - cs_sold_date_sk <= 30 ) then 1 else 0 end) as d30
          ,sum(case when (cs_ship_date_sk - cs_sold_date_sk > 30) and
                         (cs_ship_date_sk - cs_sold_date_sk <= 60) then 1 else 0 end) as d31_60
          ,sum(case when (cs_ship_date_sk - cs_sold_date_sk > 60) and
                         (cs_ship_date_sk - cs_sold_date_sk <= 90) then 1 else 0 end) as d61_90
          ,sum(case when (cs_ship_date_sk - cs_sold_date_sk > 90) and
                         (cs_ship_date_sk - cs_sold_date_sk <= 120) then 1 else 0 end) as d91_120
          ,sum(case when (cs_ship_date_sk - cs_sold_date_sk  > 120) then 1 else 0 end) as dgt120
        from catalog_sales, warehouse, ship_mode, call_center, date_dim
        where d_month_seq between 1200 and 1200 + 11
          and cs_ship_date_sk   = d_date_sk
          and cs_warehouse_sk   = w_warehouse_sk
          and cs_ship_mode_sk   = sm_ship_mode_sk
          and cs_call_center_sk = cc_call_center_sk
        group by substr(w_warehouse_name,1,20), sm_type, cc_name
        order by warehouse_prefix, sm_type, cc_name
        limit 100
    """,
    "q16": """
        select
          count(distinct cs_order_number) as order_count,
          sum(cs_ext_ship_cost) as total_shipping_cost,
          sum(cs_net_profit) as total_net_profit
        from
          catalog_sales cs1, date_dim, customer_address, call_center
        where
          d_date between '2002-02-01' and (cast('2002-02-01' as date) + 60)
        and cs1.cs_ship_date_sk = d_date_sk
        and cs1.cs_ship_addr_sk = ca_address_sk
        and ca_state = 'GA'
        and cs1.cs_call_center_sk = cc_call_center_sk
        and cc_county in ('Williamson County','Williamson County','Williamson County',
                          'Williamson County','Williamson County')
        and exists (select *
                   from catalog_sales cs2
                   where cs1.cs_order_number = cs2.cs_order_number
                     and cs1.cs_warehouse_sk <> cs2.cs_warehouse_sk)
        and not exists(select *
                      from catalog_returns cr1
                      where cs1.cs_order_number = cr1.cr_order_number)
        order by count(distinct cs_order_number)
        limit 100
    """,
    "q30": """
        with customer_total_return as
        (select wr_returning_customer_sk as ctr_customer_sk
               ,ca_state as ctr_state,
               sum(wr_return_amt) as ctr_total_return
        from web_returns, date_dim, customer_address
        where wr_returned_date_sk = d_date_sk
          and d_year = 2002
          and wr_returning_addr_sk = ca_address_sk
        group by wr_returning_customer_sk,ca_state)
        select c_customer_id,c_salutation,c_first_name,c_last_name,c_preferred_cust_flag
              ,c_birth_day,c_birth_month,c_birth_year,c_birth_country,c_login,c_email_address
              ,c_last_review_date,ctr_total_return
        from customer_total_return ctr1, customer_address, customer
        where ctr1.ctr_total_return > (select avg(ctr_total_return)*1.2
                          from customer_total_return ctr2
                          where ctr1.ctr_state = ctr2.ctr_state)
              and ca_address_sk = c_current_addr_sk
              and ca_state = 'GA'
              and ctr1.ctr_customer_sk = c_customer_sk
        order by c_customer_id,c_salutation,c_first_name,c_last_name,c_preferred_cust_flag
                         ,c_birth_day,c_birth_month,c_birth_year,c_birth_country,c_login,c_email_address
                         ,c_last_review_date,ctr_total_return
        limit 100
    """,
    "q31": """
        with ss as
        (select ca_county,d_qoy, d_year,sum(ss_ext_sales_price) as store_sales
        from store_sales,date_dim,customer_address
        where ss_sold_date_sk = d_date_sk
         and ss_addr_sk=ca_address_sk
        group by ca_county,d_qoy, d_year),
        ws as
        (select ca_county,d_qoy, d_year,sum(ws_ext_sales_price) as web_sales
        from web_sales,date_dim,customer_address
        where ws_sold_date_sk = d_date_sk
         and ws_bill_addr_sk=ca_address_sk
        group by ca_county,d_qoy, d_year)
        select
               ss1.ca_county
              ,ss1.d_year
              ,ws2.web_sales/ws1.web_sales web_q1_q2_increase
              ,ss2.store_sales/ss1.store_sales store_q1_q2_increase
              ,ws3.web_sales/ws2.web_sales web_q2_q3_increase
              ,ss3.store_sales/ss2.store_sales store_q2_q3_increase
        from
               ss ss1, ss ss2, ss ss3, ws ws1, ws ws2, ws ws3
        where
           ss1.d_qoy = 1
           and ss1.d_year = 2000
           and ss1.ca_county = ss2.ca_county
           and ss2.d_qoy = 2
           and ss2.d_year = 2000
        and ss2.ca_county = ss3.ca_county
           and ss3.d_qoy = 3
           and ss3.d_year = 2000
           and ss1.ca_county = ws1.ca_county
           and ws1.d_qoy = 1
           and ws1.d_year = 2000
           and ws1.ca_county = ws2.ca_county
           and ws2.d_qoy = 2
           and ws2.d_year = 2000
           and ws1.ca_county = ws3.ca_county
           and ws3.d_qoy = 3
           and ws3.d_year = 2000
           and case when ws1.web_sales > 0 then ws2.web_sales/ws1.web_sales else null end
              > case when ss1.store_sales > 0 then ss2.store_sales/ss1.store_sales else null end
           and case when ws2.web_sales > 0 then ws3.web_sales/ws2.web_sales else null end
              > case when ss2.store_sales > 0 then ss3.store_sales/ss2.store_sales else null end
        order by ss1.ca_county
    """,
    "q33": """
        with ss as (
           select
               i_manufact_id,sum(ss_ext_sales_price) total_sales
           from
               store_sales, date_dim, customer_address, item
           where
               i_manufact_id in (select i_manufact_id
                                 from item
                                 where i_category in ('Electronics'))
                                   and ss_item_sk = i_item_sk
                                   and ss_sold_date_sk = d_date_sk
                                   and d_year = 1998
                                   and d_moy = 5
                                   and ss_addr_sk = ca_address_sk
                                   and ca_gmt_offset = -5
                                 group by i_manufact_id), cs as
                (select i_manufact_id, sum(cs_ext_sales_price) total_sales
                 from catalog_sales, date_dim, customer_address, item
                 where
                   i_manufact_id in (
                       select i_manufact_id from item
                       where
                           i_category in ('Electronics'))
                           and cs_item_sk = i_item_sk
                           and cs_sold_date_sk = d_date_sk
                           and d_year = 1998
                           and d_moy = 5
                           and cs_bill_addr_sk = ca_address_sk
                           and ca_gmt_offset = -5
                       group by i_manufact_id),
        ws as (
        select i_manufact_id,sum(ws_ext_sales_price) total_sales
        from
            web_sales, date_dim, customer_address, item
        where
           i_manufact_id in (select i_manufact_id from item
                             where i_category in ('Electronics'))
                                 and ws_item_sk = i_item_sk
                                 and ws_sold_date_sk = d_date_sk
                                 and d_year = 1998
                                 and d_moy = 5
                                 and ws_bill_addr_sk = ca_address_sk
                                 and ca_gmt_offset = -5
                             group by i_manufact_id)
        select i_manufact_id ,sum(total_sales) total_sales
        from  (select * from ss
               union all
               select * from cs
               union all
               select * from ws) tmp1
        group by i_manufact_id
        order by total_sales, i_manufact_id
        limit 100
    """,
    "q47": """
        with v1 as(
        select i_category, i_brand,
               s_store_name, s_company_name,
               d_year, d_moy,
               sum(ss_sales_price) sum_sales,
               avg(sum(ss_sales_price)) over
                 (partition by i_category, i_brand,
                            s_store_name, s_company_name, d_year)
                 avg_monthly_sales,
               rank() over
                 (partition by i_category, i_brand,
                            s_store_name, s_company_name
                  order by d_year, d_moy) rn
        from item, store_sales, date_dim, store
        where ss_item_sk = i_item_sk and
              ss_sold_date_sk = d_date_sk and
              ss_store_sk = s_store_sk and
              (
                d_year = 1999 or
                ( d_year = 1999-1 and d_moy =12) or
                ( d_year = 1999+1 and d_moy =1)
              )
        group by i_category, i_brand,
                 s_store_name, s_company_name,
                 d_year, d_moy),
        v2 as(
        select v1.i_category, v1.i_brand, v1.s_store_name, v1.s_company_name, v1.d_year,
               v1.d_moy, v1.avg_monthly_sales, v1.sum_sales, v1_lag.sum_sales psum,
               v1_lead.sum_sales nsum
        from v1, v1 v1_lag, v1 v1_lead
        where v1.i_category = v1_lag.i_category and
              v1.i_category = v1_lead.i_category and
              v1.i_brand = v1_lag.i_brand and
              v1.i_brand = v1_lead.i_brand and
              v1.s_store_name = v1_lag.s_store_name and
              v1.s_store_name = v1_lead.s_store_name and
              v1.s_company_name = v1_lag.s_company_name and
              v1.s_company_name = v1_lead.s_company_name and
              v1.rn = v1_lag.rn + 1 and
              v1.rn = v1_lead.rn - 1)
        select * from v2
        where  d_year = 1999 and
               avg_monthly_sales > 0 and
               case when avg_monthly_sales > 0 then abs(sum_sales - avg_monthly_sales) / avg_monthly_sales else null end > 0.1
        order by sum_sales - avg_monthly_sales, s_store_name, i_category, i_brand,
                 s_company_name, d_moy
        limit 100
    """,
    "q49": """
        select 'web' as channel, web.item, web.return_ratio, web.return_rank, web.currency_rank
        from (
            select
           item, return_ratio, currency_ratio,
             rank() over (order by return_ratio) as return_rank,
             rank() over (order by currency_ratio) as currency_rank
            from
            (   select ws.ws_item_sk as item
                ,(cast(sum(coalesce(wr.wr_return_quantity,0)) as decimal(15,4))/
                cast(sum(coalesce(ws.ws_quantity,0)) as decimal(15,4) )) as return_ratio
                ,(cast(sum(coalesce(wr.wr_return_amt,0)) as decimal(15,4))/
                cast(sum(coalesce(ws.ws_net_paid,0)) as decimal(15,4) )) as currency_ratio
                from
                 web_sales ws left outer join web_returns wr
                    on (ws.ws_order_number = wr.wr_order_number and
                    ws.ws_item_sk = wr.wr_item_sk)
               ,date_dim
                where
                    wr.wr_return_amt > 10000
                    and ws.ws_net_profit > 1
                    and ws.ws_net_paid > 0
                    and ws.ws_quantity > 0
                    and ws_sold_date_sk = d_date_sk
                    and d_year = 2001
                    and d_moy = 12
                group by ws.ws_item_sk
            ) in_web
        ) web
        where (web.return_rank <= 10 or web.currency_rank <= 10)
        union
        select
           'catalog' as channel, catalog.item, catalog.return_ratio,
           catalog.return_rank, catalog.currency_rank
        from (
            select
           item, return_ratio, currency_ratio,
             rank() over (order by return_ratio) as return_rank,
             rank() over (order by currency_ratio) as currency_rank
            from
            (   select
                cs.cs_item_sk as item
                ,(cast(sum(coalesce(cr.cr_return_quantity,0)) as decimal(15,4))/
                cast(sum(coalesce(cs.cs_quantity,0)) as decimal(15,4) )) as return_ratio
                ,(cast(sum(coalesce(cr.cr_return_amount,0)) as decimal(15,4))/
                cast(sum(coalesce(cs.cs_net_paid,0)) as decimal(15,4) )) as currency_ratio
                from
                catalog_sales cs left outer join catalog_returns cr
                    on (cs.cs_order_number = cr.cr_order_number and
                    cs.cs_item_sk = cr.cr_item_sk)
               ,date_dim
                where
                    cr.cr_return_amount > 10000
                    and cs.cs_net_profit > 1
                    and cs.cs_net_paid > 0
                    and cs.cs_quantity > 0
                    and cs_sold_date_sk = d_date_sk
                    and d_year = 2001
                    and d_moy = 12
                group by cs.cs_item_sk
            ) in_cat
        ) catalog
        where (catalog.return_rank <= 10 or catalog.currency_rank <=10)
        union
        select
           'store' as channel, store.item, store.return_ratio,
           store.return_rank, store.currency_rank
        from (
            select
             item, return_ratio, currency_ratio,
               rank() over (order by return_ratio) as return_rank,
               rank() over (order by currency_ratio) as currency_rank
            from
            (   select sts.ss_item_sk as item
                ,(cast(sum(coalesce(sr.sr_return_quantity,0)) as decimal(15,4))/
                      cast(sum(coalesce(sts.ss_quantity,0)) as decimal(15,4) )) as return_ratio
                ,(cast(sum(coalesce(sr.sr_return_amt,0)) as decimal(15,4))/
                      cast(sum(coalesce(sts.ss_net_paid,0)) as decimal(15,4) )) as currency_ratio
                from
                store_sales sts left outer join store_returns sr
                    on (sts.ss_ticket_number = sr.sr_ticket_number and sts.ss_item_sk = sr.sr_item_sk)
               ,date_dim
                where
                    sr.sr_return_amt > 10000
                    and sts.ss_net_profit > 1
                    and sts.ss_net_paid > 0
                    and sts.ss_quantity > 0
                    and ss_sold_date_sk = d_date_sk
                    and d_year = 2001
                    and d_moy = 12
                group by sts.ss_item_sk
            ) in_store
        ) store
        where (store.return_rank <= 10 or store.currency_rank <= 10)
        order by channel, return_rank, currency_rank, item
        limit 100
    """,
    "q51": """
        WITH web_v1 as (
        select
          ws_item_sk item_sk, d_date,
          sum(sum(ws_sales_price))
              over (partition by ws_item_sk order by d_date rows between unbounded preceding and current row) cume_sales
        from web_sales, date_dim
        where ws_sold_date_sk=d_date_sk
          and d_month_seq between 1200 and 1200+11
          and ws_item_sk is not NULL
        group by ws_item_sk, d_date),
        store_v1 as (
        select
          ss_item_sk item_sk, d_date,
          sum(sum(ss_sales_price))
              over (partition by ss_item_sk order by d_date rows between unbounded preceding and current row) cume_sales
        from store_sales, date_dim
        where ss_sold_date_sk=d_date_sk
          and d_month_seq between 1200 and 1200+11
          and ss_item_sk is not NULL
        group by ss_item_sk, d_date)
        select *
        from (select item_sk, d_date, web_sales, store_sales
             ,max(web_sales)
                 over (partition by item_sk order by d_date rows between unbounded preceding and current row) web_cumulative
             ,max(store_sales)
                 over (partition by item_sk order by d_date rows between unbounded preceding and current row) store_cumulative
             from (select case when web.item_sk is not null then web.item_sk else store.item_sk end item_sk
                         ,case when web.d_date is not null then web.d_date else store.d_date end d_date
                         ,web.cume_sales web_sales
                         ,store.cume_sales store_sales
                   from web_v1 web full outer join store_v1 store on (web.item_sk = store.item_sk
                                                                  and web.d_date = store.d_date)
                  )x )y
        where web_cumulative > store_cumulative
        order by item_sk, d_date
        limit 100
    """,
    "q54": """
        with my_customers as (
        select distinct c_customer_sk
               , c_current_addr_sk
        from
               ( select cs_sold_date_sk sold_date_sk,
                        cs_bill_customer_sk customer_sk,
                        cs_item_sk item_sk
                 from   catalog_sales
                 union all
                 select ws_sold_date_sk sold_date_sk,
                        ws_bill_customer_sk customer_sk,
                        ws_item_sk item_sk
                 from   web_sales
                ) cs_or_ws_sales,
                item,
                date_dim,
                customer
        where   sold_date_sk = d_date_sk
                and item_sk = i_item_sk
                and i_category = 'Women'
                and i_class = 'maternity'
                and c_customer_sk = cs_or_ws_sales.customer_sk
                and d_moy between 10 and 12
                and d_year = 1998
        )
        , my_revenue as (
        select c_customer_sk,
               sum(ss_ext_sales_price) as revenue
        from   my_customers,
               store_sales,
               customer_address,
               store,
               date_dim
        where  c_current_addr_sk = ca_address_sk
               and ca_county = s_county
               and ca_state = s_state
               and ss_sold_date_sk = d_date_sk
               and c_customer_sk = ss_customer_sk
               and d_month_seq between (select distinct d_month_seq+1
                                        from   date_dim where d_year = 1998 and d_moy = 12)
                                  and  (select distinct d_month_seq+3
                                        from   date_dim where d_year = 1998 and d_moy = 12)
        group by c_customer_sk
        )
        , segments as
        (select cast(floor(revenue/50) as int) as segment from my_revenue)
        select segment, count(*) as num_customers, segment*50 as segment_base
        from segments
        group by segment
        order by segment, num_customers
        limit 100
    """,
    "q56": """
        with ss as (
        select i_item_id,sum(ss_ext_sales_price) total_sales
        from
            store_sales, date_dim, customer_address, item
        where
           i_item_id in (select i_item_id from item where i_color in ('slate','blanched','burnished'))
        and     ss_item_sk              = i_item_sk
        and     ss_sold_date_sk         = d_date_sk
        and     d_year                  = 2001
        and     d_moy                   = 2
        and     ss_addr_sk              = ca_address_sk
        and     ca_gmt_offset           = -5
        group by i_item_id),
        cs as (
        select i_item_id,sum(cs_ext_sales_price) total_sales
        from
            catalog_sales, date_dim, customer_address, item
        where
           i_item_id in (select i_item_id from item where i_color in ('slate','blanched','burnished'))
        and     cs_item_sk              = i_item_sk
        and     cs_sold_date_sk         = d_date_sk
        and     d_year                  = 2001
        and     d_moy                   = 2
        and     cs_bill_addr_sk         = ca_address_sk
        and     ca_gmt_offset           = -5
        group by i_item_id),
        ws as (
        select i_item_id,sum(ws_ext_sales_price) total_sales
        from
            web_sales, date_dim, customer_address, item
        where
           i_item_id in (select i_item_id from item where i_color in ('slate','blanched','burnished'))
        and     ws_item_sk              = i_item_sk
        and     ws_sold_date_sk         = d_date_sk
        and     d_year                  = 2001
        and     d_moy                   = 2
        and     ws_bill_addr_sk         = ca_address_sk
        and     ca_gmt_offset           = -5
        group by i_item_id)
        select i_item_id ,sum(total_sales) total_sales
        from  (select * from ss
               union all
               select * from cs
               union all
               select * from ws) tmp1
        group by i_item_id
        order by total_sales, i_item_id
        limit 100
    """,
    "q57": """
        with v1 as(
        select i_category, i_brand,
               cc_name,
               d_year, d_moy,
               sum(cs_sales_price) sum_sales,
               avg(sum(cs_sales_price)) over
                 (partition by i_category, i_brand, cc_name, d_year)
                 avg_monthly_sales,
               rank() over
                 (partition by i_category, i_brand, cc_name
                  order by d_year, d_moy) rn
        from item, catalog_sales, date_dim, call_center
        where cs_item_sk = i_item_sk and
              cs_sold_date_sk = d_date_sk and
              cc_call_center_sk= cs_call_center_sk and
              (
                d_year = 1999 or
                ( d_year = 1999-1 and d_moy =12) or
                ( d_year = 1999+1 and d_moy =1)
              )
        group by i_category, i_brand,
                 cc_name , d_year, d_moy),
        v2 as(
        select v1.i_category, v1.i_brand, v1.cc_name, v1.d_year, v1.d_moy
               ,v1.avg_monthly_sales
               ,v1.sum_sales, v1_lag.sum_sales psum, v1_lead.sum_sales nsum
        from v1, v1 v1_lag, v1 v1_lead
        where v1.i_category = v1_lag.i_category and
              v1.i_category = v1_lead.i_category and
              v1.i_brand = v1_lag.i_brand and
              v1.i_brand = v1_lead.i_brand and
              v1.cc_name = v1_lag.cc_name and
              v1.cc_name = v1_lead.cc_name and
              v1.rn = v1_lag.rn + 1 and
              v1.rn = v1_lead.rn - 1)
        select * from v2
        where  d_year = 1999 and
               avg_monthly_sales > 0 and
               case when avg_monthly_sales > 0 then abs(sum_sales - avg_monthly_sales) / avg_monthly_sales else null end > 0.1
        order by sum_sales - avg_monthly_sales, cc_name, i_category, i_brand, d_moy
        limit 100
    """,
    "q58": """
        with ss_items as
        (select i_item_id item_id, sum(ss_ext_sales_price) ss_item_rev
        from store_sales, item, date_dim
        where ss_item_sk = i_item_sk
          and d_date in (select d_date
                         from date_dim
                         where d_week_seq = (select d_week_seq
                                             from date_dim
                                             where d_date = '2000-01-03'))
          and ss_sold_date_sk   = d_date_sk
        group by i_item_id),
        cs_items as
        (select i_item_id item_id
               ,sum(cs_ext_sales_price) cs_item_rev
         from catalog_sales, item, date_dim
        where cs_item_sk = i_item_sk
         and  d_date in (select d_date
                         from date_dim
                         where d_week_seq = (select d_week_seq
                                             from date_dim
                                             where d_date = '2000-01-03'))
         and  cs_sold_date_sk = d_date_sk
        group by i_item_id),
        ws_items as
        (select i_item_id item_id, sum(ws_ext_sales_price) ws_item_rev
         from web_sales, item, date_dim
        where ws_item_sk = i_item_sk
         and  d_date in (select d_date
                         from date_dim
                         where d_week_seq =(select d_week_seq
                                            from date_dim
                                            where d_date = '2000-01-03'))
         and ws_sold_date_sk   = d_date_sk
        group by i_item_id)
        select ss_items.item_id
              ,ss_item_rev
              ,ss_item_rev/(ss_item_rev+cs_item_rev+ws_item_rev)/3 * 100 ss_dev
              ,cs_item_rev
              ,cs_item_rev/(ss_item_rev+cs_item_rev+ws_item_rev)/3 * 100 cs_dev
              ,ws_item_rev
              ,ws_item_rev/(ss_item_rev+cs_item_rev+ws_item_rev)/3 * 100 ws_dev
              ,(ss_item_rev+cs_item_rev+ws_item_rev)/3 average
        from ss_items,cs_items,ws_items
        where ss_items.item_id=cs_items.item_id
          and ss_items.item_id=ws_items.item_id
          and ss_item_rev between 0.9 * cs_item_rev and 1.1 * cs_item_rev
          and ss_item_rev between 0.9 * ws_item_rev and 1.1 * ws_item_rev
          and cs_item_rev between 0.9 * ss_item_rev and 1.1 * ss_item_rev
          and cs_item_rev between 0.9 * ws_item_rev and 1.1 * ws_item_rev
          and ws_item_rev between 0.9 * ss_item_rev and 1.1 * ss_item_rev
          and ws_item_rev between 0.9 * cs_item_rev and 1.1 * cs_item_rev
        order by ss_items.item_id, ss_item_rev
        limit 100
    """,
    "q60": """
        with ss as (
           select i_item_id,sum(ss_ext_sales_price) total_sales
           from store_sales, date_dim, customer_address, item
           where
               i_item_id in (select i_item_id from item where i_category in ('Music'))
           and     ss_item_sk              = i_item_sk
           and     ss_sold_date_sk         = d_date_sk
           and     d_year                  = 1998
           and     d_moy                   = 9
           and     ss_addr_sk              = ca_address_sk
           and     ca_gmt_offset           = -5
           group by i_item_id),
         cs as (
           select i_item_id,sum(cs_ext_sales_price) total_sales
           from catalog_sales, date_dim, customer_address, item
           where
               i_item_id in (select i_item_id from item where i_category in ('Music'))
           and     cs_item_sk              = i_item_sk
           and     cs_sold_date_sk         = d_date_sk
           and     d_year                  = 1998
           and     d_moy                   = 9
           and     cs_bill_addr_sk         = ca_address_sk
           and     ca_gmt_offset           = -5
           group by i_item_id),
         ws as (
           select i_item_id,sum(ws_ext_sales_price) total_sales
           from web_sales, date_dim, customer_address, item
           where
               i_item_id in (select i_item_id from item where i_category in ('Music'))
           and     ws_item_sk              = i_item_sk
           and     ws_sold_date_sk         = d_date_sk
           and     d_year                  = 1998
           and     d_moy                   = 9
           and     ws_bill_addr_sk         = ca_address_sk
           and     ca_gmt_offset           = -5
           group by i_item_id)
        select i_item_id, sum(total_sales) total_sales
        from  (select * from ss
               union all
               select * from cs
               union all
               select * from ws) tmp1
        group by i_item_id
        order by i_item_id, total_sales
        limit 100
    """,
    "q72": """
        select i_item_desc
              ,w_warehouse_name
              ,d1.d_week_seq
              ,count(case when p_promo_sk is null then 1 else 0 end) no_promo
              ,count(case when p_promo_sk is not null then 1 else 0 end) promo
              ,count(*) total_cnt
        from catalog_sales
        join inventory on (cs_item_sk = inv_item_sk)
        join warehouse on (w_warehouse_sk=inv_warehouse_sk)
        join item on (i_item_sk = cs_item_sk)
        join customer_demographics on (cs_bill_cdemo_sk = cd_demo_sk)
        join household_demographics on (cs_bill_hdemo_sk = hd_demo_sk)
        join date_dim d1 on (cs_sold_date_sk = d1.d_date_sk)
        join date_dim d2 on (inv_date_sk = d2.d_date_sk)
        join date_dim d3 on (cs_ship_date_sk = d3.d_date_sk)
        left outer join promotion on (cs_promo_sk=p_promo_sk)
        left outer join catalog_returns on (cr_item_sk = cs_item_sk and cr_order_number = cs_order_number)
        where d1.d_week_seq = d2.d_week_seq
          and inv_quantity_on_hand < cs_quantity
          and d3.d_date > (cast(d1.d_date AS DATE) + 5)
          and hd_buy_potential = '>10000'
          and d1.d_year = 1999
          and cd_marital_status = 'D'
        group by i_item_desc,w_warehouse_name,d1.d_week_seq
        order by total_cnt desc, i_item_desc, w_warehouse_name, d1.d_week_seq
        limit 100
    """,
    "q75": """
        WITH all_sales AS (
           SELECT
               d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
               SUM(sales_cnt) AS sales_cnt, SUM(sales_amt) AS sales_amt
           FROM (
               SELECT
                   d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
                   cs_quantity - COALESCE(cr_return_quantity,0) AS sales_cnt,
                   cs_ext_sales_price - COALESCE(cr_return_amount,0.0) AS sales_amt
               FROM catalog_sales
               JOIN item ON i_item_sk=cs_item_sk
               JOIN date_dim ON d_date_sk=cs_sold_date_sk
               LEFT JOIN catalog_returns ON (cs_order_number=cr_order_number
                                             AND cs_item_sk=cr_item_sk)
               WHERE i_category='Books'
               UNION
               SELECT
                   d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
                    ss_quantity - COALESCE(sr_return_quantity,0) AS sales_cnt,
                    ss_ext_sales_price - COALESCE(sr_return_amt,0.0) AS sales_amt
               FROM store_sales
               JOIN item ON i_item_sk=ss_item_sk
               JOIN date_dim ON d_date_sk=ss_sold_date_sk
               LEFT JOIN store_returns ON (ss_ticket_number=sr_ticket_number
                                           AND ss_item_sk=sr_item_sk)
               WHERE i_category='Books'
               UNION
               SELECT
                   d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id,
                   ws_quantity - COALESCE(wr_return_quantity,0) AS sales_cnt,
                   ws_ext_sales_price - COALESCE(wr_return_amt,0.0) AS sales_amt
               FROM web_sales
               JOIN item ON i_item_sk=ws_item_sk
               JOIN date_dim ON d_date_sk=ws_sold_date_sk
               LEFT JOIN web_returns ON (ws_order_number=wr_order_number
                                         AND ws_item_sk=wr_item_sk)
               WHERE i_category='Books') sales_detail
           GROUP BY d_year, i_brand_id, i_class_id, i_category_id, i_manufact_id)
        SELECT
           prev_yr.d_year AS prev_year, curr_yr.d_year AS year_, curr_yr.i_brand_id,
           curr_yr.i_class_id, curr_yr.i_category_id, curr_yr.i_manufact_id,
           prev_yr.sales_cnt AS prev_yr_cnt, curr_yr.sales_cnt AS curr_yr_cnt,
           curr_yr.sales_cnt-prev_yr.sales_cnt AS sales_cnt_diff,
           curr_yr.sales_amt-prev_yr.sales_amt AS sales_amt_diff
        FROM all_sales curr_yr, all_sales prev_yr
        WHERE curr_yr.i_brand_id=prev_yr.i_brand_id
          AND curr_yr.i_class_id=prev_yr.i_class_id
          AND curr_yr.i_category_id=prev_yr.i_category_id
          AND curr_yr.i_manufact_id=prev_yr.i_manufact_id
          AND curr_yr.d_year=2002
          AND prev_yr.d_year=2002-1
          AND prev_yr.sales_cnt <> 0
          AND CAST(curr_yr.sales_cnt AS DECIMAL(17,2))/CAST(prev_yr.sales_cnt AS DECIMAL(17,2))<0.9
        ORDER BY sales_cnt_diff, curr_yr.i_brand_id, curr_yr.i_class_id,
                 curr_yr.i_category_id, curr_yr.i_manufact_id
        LIMIT 100
    """,
    "q85": """
        select substr(r_reason_desc,1,20) r_desc, avg(ws_quantity) avg_qty,
               avg(wr_refunded_cash) avg_cash, avg(wr_fee) avg_fee
        from web_sales, web_returns, web_page, customer_demographics cd1,
             customer_demographics cd2, customer_address, date_dim, reason
        where ws_web_page_sk = wp_web_page_sk
          and ws_item_sk = wr_item_sk
          and ws_order_number = wr_order_number
          and ws_sold_date_sk = d_date_sk and d_year = 2000
          and cd1.cd_demo_sk = wr_refunded_cdemo_sk
          and cd2.cd_demo_sk = wr_returning_cdemo_sk
          and ca_address_sk = wr_refunded_addr_sk
          and r_reason_sk = wr_reason_sk
          and
          (
           (
            cd1.cd_marital_status = 'M'
            and
            cd1.cd_marital_status = cd2.cd_marital_status
            and
            cd1.cd_education_status = 'Advanced Degree'
            and
            cd1.cd_education_status = cd2.cd_education_status
            and
            ws_sales_price between 100.00 and 150.00
           )
          or
           (
            cd1.cd_marital_status = 'S'
            and
            cd1.cd_marital_status = cd2.cd_marital_status
            and
            cd1.cd_education_status = 'College'
            and
            cd1.cd_education_status = cd2.cd_education_status
            and
            ws_sales_price between 50.00 and 100.00
           )
          or
           (
            cd1.cd_marital_status = 'W'
            and
            cd1.cd_marital_status = cd2.cd_marital_status
            and
            cd1.cd_education_status = '2 yr Degree'
            and
            cd1.cd_education_status = cd2.cd_education_status
            and
            ws_sales_price between 150.00 and 200.00
           )
          )
          and
          (
           (
            ca_country = 'United States'
            and
            ca_state in ('IL', 'OH', 'NY')
            and ws_net_profit between 100 and 2000
           )
           or
           (
            ca_country = 'United States'
            and
            ca_state in ('WA', 'CA', 'MI')
            and ws_net_profit between 150 and 3000
           )
           or
           (
            ca_country = 'United States'
            and
            ca_state in ('GA', 'TX', 'CA')
            and ws_net_profit between 50 and 2500
           )
          )
        group by r_reason_desc
        order by substr(r_reason_desc,1,20)
               ,avg(ws_quantity)
               ,avg(wr_refunded_cash)
               ,avg(wr_fee)
        limit 100
    """,
    "q86": """
        select sum(ws_net_paid) as total_sum, i_category, i_class,
         grouping(i_category)+grouping(i_class) as lochierarchy,
         rank() over (
                partition by grouping(i_category)+grouping(i_class),
                case when grouping(i_class) = 0 then i_category end
                order by sum(ws_net_paid) desc) as rank_within_parent
        from
           web_sales, date_dim d1, item
        where
           d1.d_month_seq between 1200 and 1200+11
        and d1.d_date_sk = ws_sold_date_sk
        and i_item_sk  = ws_item_sk
        group by rollup(i_category,i_class)
        order by
          lochierarchy desc,
          case when lochierarchy = 0 then i_category end,
          rank_within_parent, i_category, i_class
        limit 100
    """,
    "q94": """
        select
           count(distinct ws_order_number) as order_count
          ,sum(ws_ext_ship_cost) as total_shipping_cost
          ,sum(ws_net_profit) as total_net_profit
        from
           web_sales ws1, date_dim, customer_address, web_site
        where
            d_date between '1999-02-01' and
                   (cast('1999-02-01' as date) + 60)
        and ws1.ws_ship_date_sk = d_date_sk
        and ws1.ws_ship_addr_sk = ca_address_sk
        and ca_state = 'IL'
        and ws1.ws_web_site_sk = web_site_sk
        and web_company_name = 'pri'
        and exists (select *
                    from web_sales ws2
                    where ws1.ws_order_number = ws2.ws_order_number
                      and ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
        and not exists(select *
                       from web_returns wr1
                       where ws1.ws_order_number = wr1.wr_order_number)
        order by count(distinct ws_order_number)
        limit 100
    """,
    "q95": """
        with ws_wh as
        (select ws1.ws_order_number,ws1.ws_warehouse_sk wh1,ws2.ws_warehouse_sk wh2
         from web_sales ws1,web_sales ws2
         where ws1.ws_order_number = ws2.ws_order_number
           and ws1.ws_warehouse_sk <> ws2.ws_warehouse_sk)
        select
           count(distinct ws_order_number) as order_count
          ,sum(ws_ext_ship_cost) as total_shipping_cost
          ,sum(ws_net_profit) as total_net_profit
        from
           web_sales ws1, date_dim, customer_address, web_site
        where
            d_date between '1999-02-01' and
                   (cast('1999-02-01' as date) + 60)
        and ws1.ws_ship_date_sk = d_date_sk
        and ws1.ws_ship_addr_sk = ca_address_sk
        and ca_state = 'IL'
        and ws1.ws_web_site_sk = web_site_sk
        and web_company_name = 'pri'
        and ws1.ws_order_number in (select ws_order_number
                                    from ws_wh)
        and ws1.ws_order_number in (select wr_order_number
                                    from web_returns,ws_wh
                                    where wr_order_number = ws_wh.ws_order_number)
        order by count(distinct ws_order_number)
        limit 100
    """,
    "q4": """
        WITH year_total AS (
         SELECT c_customer_id customer_id,
                c_first_name customer_first_name,
                c_last_name customer_last_name,
                c_preferred_cust_flag customer_preferred_cust_flag,
                c_birth_country customer_birth_country,
                c_login customer_login,
                c_email_address customer_email_address,
                d_year dyear,
                sum(((ss_ext_list_price-ss_ext_wholesale_cost-ss_ext_discount_amt)+ss_ext_sales_price)/2) year_total,
                's' sale_type
         FROM customer, store_sales, date_dim
         WHERE c_customer_sk = ss_customer_sk AND ss_sold_date_sk = d_date_sk
         GROUP BY c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
                  c_birth_country, c_login, c_email_address, d_year
         UNION ALL
         SELECT c_customer_id customer_id,
                c_first_name customer_first_name,
                c_last_name customer_last_name,
                c_preferred_cust_flag customer_preferred_cust_flag,
                c_birth_country customer_birth_country,
                c_login customer_login,
                c_email_address customer_email_address,
                d_year dyear,
                sum((((cs_ext_list_price-cs_ext_wholesale_cost-cs_ext_discount_amt)+cs_ext_sales_price)/2) ) year_total,
                'c' sale_type
         FROM customer, catalog_sales, date_dim
         WHERE c_customer_sk = cs_bill_customer_sk AND cs_sold_date_sk = d_date_sk
         GROUP BY c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
                  c_birth_country, c_login, c_email_address, d_year
         UNION ALL
         SELECT c_customer_id customer_id,
                c_first_name customer_first_name,
                c_last_name customer_last_name,
                c_preferred_cust_flag customer_preferred_cust_flag,
                c_birth_country customer_birth_country,
                c_login customer_login,
                c_email_address customer_email_address,
                d_year dyear,
                sum((((ws_ext_list_price-ws_ext_wholesale_cost-ws_ext_discount_amt)+ws_ext_sales_price)/2) ) year_total,
                'w' sale_type
         FROM customer, web_sales, date_dim
         WHERE c_customer_sk = ws_bill_customer_sk AND ws_sold_date_sk = d_date_sk
         GROUP BY c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag,
                  c_birth_country, c_login, c_email_address, d_year)
        SELECT
          t_s_secyear.customer_id,
          t_s_secyear.customer_first_name,
          t_s_secyear.customer_last_name,
          t_s_secyear.customer_preferred_cust_flag,
          t_s_secyear.customer_birth_country,
          t_s_secyear.customer_login,
          t_s_secyear.customer_email_address
        FROM year_total t_s_firstyear, year_total t_s_secyear, year_total t_c_firstyear,
             year_total t_c_secyear, year_total t_w_firstyear, year_total t_w_secyear
        WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
          and t_s_firstyear.customer_id = t_c_secyear.customer_id
          and t_s_firstyear.customer_id = t_c_firstyear.customer_id
          and t_s_firstyear.customer_id = t_w_firstyear.customer_id
          and t_s_firstyear.customer_id = t_w_secyear.customer_id
          and t_s_firstyear.sale_type = 's'
          and t_c_firstyear.sale_type = 'c'
          and t_w_firstyear.sale_type = 'w'
          and t_s_secyear.sale_type = 's'
          and t_c_secyear.sale_type = 'c'
          and t_w_secyear.sale_type = 'w'
          and t_s_firstyear.dyear = 2001
          and t_s_secyear.dyear = 2001+1
          and t_c_firstyear.dyear = 2001
          and t_c_secyear.dyear = 2001+1
          and t_w_firstyear.dyear = 2001
          and t_w_secyear.dyear = 2001+1
          and t_s_firstyear.year_total > 0
          and t_c_firstyear.year_total > 0
          and t_w_firstyear.year_total > 0
          and case when t_c_firstyear.year_total > 0 then t_c_secyear.year_total / t_c_firstyear.year_total else null end
                  > case when t_s_firstyear.year_total > 0 then t_s_secyear.year_total / t_s_firstyear.year_total else null end
          and case when t_c_firstyear.year_total > 0 then t_c_secyear.year_total / t_c_firstyear.year_total else null end
                  > case when t_w_firstyear.year_total > 0 then t_w_secyear.year_total / t_w_firstyear.year_total else null end
        ORDER BY
          t_s_secyear.customer_id,
          t_s_secyear.customer_first_name,
          t_s_secyear.customer_last_name,
          t_s_secyear.customer_preferred_cust_flag,
          t_s_secyear.customer_birth_country,
          t_s_secyear.customer_login,
          t_s_secyear.customer_email_address
        LIMIT 100
    """,
    "q10": """
        select
         cd_gender, cd_marital_status, cd_education_status, count(*) cnt1,
         cd_purchase_estimate, count(*) cnt2, cd_credit_rating, count(*) cnt3,
         cd_dep_count, count(*) cnt4, cd_dep_employed_count,  count(*) cnt5,
         cd_dep_college_count, count(*) cnt6
        from
         customer c, customer_address ca, customer_demographics
        where
         c.c_current_addr_sk = ca.ca_address_sk and
         ca_county in ('Williamson County','Franklin Parish','Bronx County',
                       'Orange County','Saginaw County') and
         cd_demo_sk = c.c_current_cdemo_sk AND
         exists (select * from store_sales, date_dim
                 where c.c_customer_sk = ss_customer_sk AND
                       ss_sold_date_sk = d_date_sk AND
                       d_year = 2002 AND
                       d_moy between 1 AND 1+3) AND
          (exists (select * from web_sales, date_dim
                   where c.c_customer_sk = ws_bill_customer_sk AND
                         ws_sold_date_sk = d_date_sk AND
                         d_year = 2002 AND
                         d_moy between 1 AND 1+3) or
           exists (select * from catalog_sales, date_dim
                   where c.c_customer_sk = cs_ship_customer_sk AND
                         cs_sold_date_sk = d_date_sk AND
                         d_year = 2002 AND
                         d_moy between 1 AND 1+3))
        group by cd_gender,
                 cd_marital_status,
                 cd_education_status,
                 cd_purchase_estimate,
                 cd_credit_rating,
                 cd_dep_count,
                 cd_dep_employed_count,
                 cd_dep_college_count
        order by cd_gender,
                 cd_marital_status,
                 cd_education_status,
                 cd_purchase_estimate,
                 cd_credit_rating,
                 cd_dep_count,
                 cd_dep_employed_count,
                 cd_dep_college_count
        LIMIT 100
    """,
    "q11": """
        with year_total as (
        select c_customer_id customer_id
              ,c_first_name customer_first_name
              ,c_last_name customer_last_name
              ,c_preferred_cust_flag customer_preferred_cust_flag
              ,c_birth_country customer_birth_country
              ,c_login customer_login
              ,c_email_address customer_email_address
              ,d_year dyear
              ,sum(ss_ext_list_price-ss_ext_discount_amt) year_total
              ,'s' sale_type
        from customer, store_sales, date_dim
        where c_customer_sk = ss_customer_sk
          and ss_sold_date_sk = d_date_sk
        group by c_customer_id, c_first_name, c_last_name, d_year,
                 c_preferred_cust_flag, c_birth_country, c_login, c_email_address
        union all
        select c_customer_id customer_id
              ,c_first_name customer_first_name
              ,c_last_name customer_last_name
              ,c_preferred_cust_flag customer_preferred_cust_flag
              ,c_birth_country customer_birth_country
              ,c_login customer_login
              ,c_email_address customer_email_address
              ,d_year dyear
              ,sum(ws_ext_list_price-ws_ext_discount_amt) year_total
              ,'w' sale_type
        from customer, web_sales, date_dim
        where c_customer_sk = ws_bill_customer_sk
          and ws_sold_date_sk = d_date_sk
        group by
           c_customer_id, c_first_name, c_last_name, c_preferred_cust_flag, c_birth_country,
           c_login, c_email_address, d_year)
        select
           t_s_secyear.customer_preferred_cust_flag
        from year_total t_s_firstyear
            ,year_total t_s_secyear
            ,year_total t_w_firstyear
            ,year_total t_w_secyear
        where t_s_secyear.customer_id = t_s_firstyear.customer_id
                and t_s_firstyear.customer_id = t_w_secyear.customer_id
                and t_s_firstyear.customer_id = t_w_firstyear.customer_id
                and t_s_firstyear.sale_type = 's'
                and t_w_firstyear.sale_type = 'w'
                and t_s_secyear.sale_type = 's'
                and t_w_secyear.sale_type = 'w'
                and t_s_firstyear.dyear = 2001
                and t_s_secyear.dyear = 2001+1
                and t_w_firstyear.dyear = 2001
                and t_w_secyear.dyear = 2001+1
                and t_s_firstyear.year_total > 0
                and t_w_firstyear.year_total > 0
                and case when t_w_firstyear.year_total > 0 then t_w_secyear.year_total / t_w_firstyear.year_total else null end
                    > case when t_s_firstyear.year_total > 0 then t_s_secyear.year_total / t_s_firstyear.year_total else null end
        order by t_s_secyear.customer_preferred_cust_flag
        LIMIT 100
    """,
    "q74": """
        with year_total as (
        select
           c_customer_id customer_id, c_first_name customer_first_name,
           c_last_name customer_last_name, d_year as year_,
           sum(ss_net_paid) year_total, 's' sale_type
        from
           customer, store_sales, date_dim
        where c_customer_sk = ss_customer_sk
           and ss_sold_date_sk = d_date_sk
           and d_year in (2001,2001+1)
        group by
           c_customer_id, c_first_name, c_last_name, d_year
        union all
        select
           c_customer_id customer_id, c_first_name customer_first_name,
           c_last_name customer_last_name, d_year as year_,
           sum(ws_net_paid) year_total, 'w' sale_type
        from
           customer, web_sales, date_dim
        where c_customer_sk = ws_bill_customer_sk
           and ws_sold_date_sk = d_date_sk
           and d_year in (2001,2001+1)
        group by
           c_customer_id, c_first_name, c_last_name, d_year)
        select
           t_s_secyear.customer_id, t_s_secyear.customer_first_name, t_s_secyear.customer_last_name
        from
           year_total t_s_firstyear, year_total t_s_secyear,
           year_total t_w_firstyear, year_total t_w_secyear
        where t_s_secyear.customer_id = t_s_firstyear.customer_id
           and t_s_firstyear.customer_id = t_w_secyear.customer_id
           and t_s_firstyear.customer_id = t_w_firstyear.customer_id
           and t_s_firstyear.sale_type = 's'
           and t_w_firstyear.sale_type = 'w'
           and t_s_secyear.sale_type = 's'
           and t_w_secyear.sale_type = 'w'
           and t_s_firstyear.year_ = 2001
           and t_s_secyear.year_ = 2001+1
           and t_w_firstyear.year_ = 2001
           and t_w_secyear.year_ = 2001+1
           and t_s_firstyear.year_total > 0
           and t_w_firstyear.year_total > 0
           and case when t_w_firstyear.year_total > 0 then t_w_secyear.year_total / t_w_firstyear.year_total else null end
             > case when t_s_firstyear.year_total > 0 then t_s_secyear.year_total / t_s_firstyear.year_total else null end
        order by t_s_secyear.customer_id, t_s_secyear.customer_first_name,
                 t_s_secyear.customer_last_name
        limit 100
    """,
    "q18": """
        select i_item_id,
               ca_country,
               ca_state,
               ca_county,
               avg( cast(cs_quantity as decimal(12,2))) agg1,
               avg( cast(cs_list_price as decimal(12,2))) agg2,
               avg( cast(cs_coupon_amt as decimal(12,2))) agg3,
               avg( cast(cs_sales_price as decimal(12,2))) agg4,
               avg( cast(cs_net_profit as decimal(12,2))) agg5,
               avg( cast(c_birth_year as decimal(12,2))) agg6,
               avg( cast(cd1.cd_dep_count as decimal(12,2))) agg7
        from catalog_sales, customer_demographics cd1,
             customer_demographics cd2, customer, customer_address, date_dim, item
        where cs_sold_date_sk = d_date_sk and
              cs_item_sk = i_item_sk and
              cs_bill_cdemo_sk = cd1.cd_demo_sk and
              cs_bill_customer_sk = c_customer_sk and
              cd1.cd_gender = 'F' and
              cd1.cd_education_status = 'Unknown' and
              c_current_cdemo_sk = cd2.cd_demo_sk and
              c_current_addr_sk = ca_address_sk and
              c_birth_month in (1,6,8,9,12,2) and
              d_year = 1998 and
              ca_state  in ('MI','IN','ND','OK','NM','GA')
        group by rollup (i_item_id, ca_country, ca_state, ca_county)
        order by ca_country NULLS FIRST, ca_state NULLS FIRST,
                 ca_county NULLS FIRST, i_item_id NULLS FIRST
        LIMIT 100
    """,
    "q61": """
        select promotions,total,
               cast(promotions as decimal(15,4))/cast(total as decimal(15,4))*100 as promo_pct
        from
          (select sum(ss_ext_sales_price) promotions
            from  store_sales, store, promotion, date_dim, customer, customer_address, item
            where ss_sold_date_sk = d_date_sk
            and   ss_store_sk = s_store_sk
            and   ss_promo_sk = p_promo_sk
            and   ss_customer_sk= c_customer_sk
            and   ca_address_sk = c_current_addr_sk
            and   ss_item_sk = i_item_sk
            and   ca_gmt_offset = -5
            and   i_category = 'Jewelry'
            and   (p_channel_dmail = 'Y' or p_channel_email = 'Y' or p_channel_tv = 'Y')
            and   s_gmt_offset = -5
            and   d_year = 1998
            and   d_moy  = 11) promotional_sales,
          (select sum(ss_ext_sales_price) total
            from  store_sales, store, date_dim, customer, customer_address, item
            where ss_sold_date_sk = d_date_sk
            and   ss_store_sk = s_store_sk
            and   ss_customer_sk= c_customer_sk
            and   ca_address_sk = c_current_addr_sk
            and   ss_item_sk = i_item_sk
            and   ca_gmt_offset = -5
            and   i_category = 'Jewelry'
            and   s_gmt_offset = -5
            and   d_year = 1998
            and   d_moy  = 11) all_sales
        order by promotions, total
        limit 100
    """,
    "q64": """
        with cs_ui as
         (select cs_item_sk
                ,sum(cs_ext_list_price) as sale,sum(cr_refunded_cash+cr_reversed_charge+cr_store_credit) as refund
          from catalog_sales
              ,catalog_returns
          where cs_item_sk = cr_item_sk
            and cs_order_number = cr_order_number
          group by cs_item_sk
          having sum(cs_ext_list_price)>2*sum(cr_refunded_cash+cr_reversed_charge+cr_store_credit)),
        cross_sales as
         (select i_product_name product_name, i_item_sk item_sk, s_store_name store_name, s_zip store_zip,
                 ad1.ca_street_number b_street_number, ad1.ca_street_name b_streen_name, ad1.ca_city b_city,
                 ad1.ca_zip b_zip, ad2.ca_street_number c_street_number, ad2.ca_street_name c_street_name,
                 ad2.ca_city c_city, ad2.ca_zip c_zip, d1.d_year as syear, d2.d_year as fsyear, d3.d_year s2year,
                 count(*) cnt, sum(ss_wholesale_cost) s1, sum(ss_list_price) s2, sum(ss_coupon_amt) s3
          FROM store_sales, store_returns, cs_ui, date_dim d1, date_dim d2, date_dim d3,
               store, customer, customer_demographics cd1, customer_demographics cd2,
               promotion, household_demographics hd1, household_demographics hd2,
               customer_address ad1, customer_address ad2, income_band ib1, income_band ib2, item
          WHERE  ss_store_sk = s_store_sk AND
                 ss_sold_date_sk = d1.d_date_sk AND
                 ss_customer_sk = c_customer_sk AND
                 ss_cdemo_sk= cd1.cd_demo_sk AND
                 ss_hdemo_sk = hd1.hd_demo_sk AND
                 ss_addr_sk = ad1.ca_address_sk and
                 ss_item_sk = i_item_sk and
                 ss_item_sk = sr_item_sk and
                 ss_ticket_number = sr_ticket_number and
                 ss_item_sk = cs_ui.cs_item_sk and
                 c_current_cdemo_sk = cd2.cd_demo_sk AND
                 c_current_hdemo_sk = hd2.hd_demo_sk AND
                 c_current_addr_sk = ad2.ca_address_sk and
                 c_first_sales_date_sk = d2.d_date_sk and
                 c_first_shipto_date_sk = d3.d_date_sk and
                 ss_promo_sk = p_promo_sk and
                 hd1.hd_income_band_sk = ib1.ib_income_band_sk and
                 hd2.hd_income_band_sk = ib2.ib_income_band_sk and
                 cd1.cd_marital_status <> cd2.cd_marital_status and
                 i_color in ('slate','blanched','burnished','powder','khaki','floral',
                             'deep','light','cornflower','midnight') and
                 i_current_price between 30 and 30 + 50 and
                 i_current_price between 30 + 1 and 30 + 55
        group by i_product_name, i_item_sk, s_store_name, s_zip, ad1.ca_street_number,
                 ad1.ca_street_name, ad1.ca_city, ad1.ca_zip, ad2.ca_street_number,
                 ad2.ca_street_name, ad2.ca_city, ad2.ca_zip, d1.d_year, d2.d_year, d3.d_year
        )
        select cs1.product_name, cs1.store_name, cs1.store_zip, cs1.b_street_number,
               cs1.b_streen_name, cs1.b_city, cs1.b_zip, cs1.c_street_number, cs1.c_street_name,
               cs1.c_city, cs1.c_zip, cs1.syear, cs1.cnt cnt1, cs1.s1 s11, cs1.s2 s12, cs1.s3 s13,
               cs2.s1 s21, cs2.s2 s22, cs2.s3 s23, cs2.syear syear2, cs2.cnt cnt2
        from cross_sales cs1,cross_sales cs2
        where cs1.item_sk=cs2.item_sk and
             cs1.syear = 1999 and
             cs2.syear = 1999 + 1 and
             cs2.cnt <= cs1.cnt and
             cs1.store_name = cs2.store_name and
             cs1.store_zip = cs2.store_zip
        order by cs1.product_name, cs1.store_name, cs2.cnt,
                 cs1.b_street_number, cs1.b_zip, cs1.c_street_number, cs1.c_zip,
                 cnt1, s11, s12, s13, s21, s22, s23
    """,
    "q66": """
        select w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state, w_country,
           ship_carriers, year_
              ,sum(jan_sales) as jan_sales
              ,sum(feb_sales) as feb_sales
              ,sum(mar_sales) as mar_sales
              ,sum(apr_sales) as apr_sales
              ,sum(may_sales) as may_sales
              ,sum(jun_sales) as jun_sales
              ,sum(jul_sales) as jul_sales
              ,sum(aug_sales) as aug_sales
              ,sum(sep_sales) as sep_sales
              ,sum(oct_sales) as oct_sales
              ,sum(nov_sales) as nov_sales
              ,sum(dec_sales) as dec_sales
              ,sum(jan_sales/w_warehouse_sq_ft) as jan_sales_per_sq_foot
              ,sum(feb_sales/w_warehouse_sq_ft) as feb_sales_per_sq_foot
              ,sum(mar_sales/w_warehouse_sq_ft) as mar_sales_per_sq_foot
              ,sum(apr_sales/w_warehouse_sq_ft) as apr_sales_per_sq_foot
              ,sum(may_sales/w_warehouse_sq_ft) as may_sales_per_sq_foot
              ,sum(jun_sales/w_warehouse_sq_ft) as jun_sales_per_sq_foot
              ,sum(jul_sales/w_warehouse_sq_ft) as jul_sales_per_sq_foot
              ,sum(aug_sales/w_warehouse_sq_ft) as aug_sales_per_sq_foot
              ,sum(sep_sales/w_warehouse_sq_ft) as sep_sales_per_sq_foot
              ,sum(oct_sales/w_warehouse_sq_ft) as oct_sales_per_sq_foot
              ,sum(nov_sales/w_warehouse_sq_ft) as nov_sales_per_sq_foot
              ,sum(dec_sales/w_warehouse_sq_ft) as dec_sales_per_sq_foot
              ,sum(jan_net) as jan_net
              ,sum(feb_net) as feb_net
              ,sum(mar_net) as mar_net
              ,sum(apr_net) as apr_net
              ,sum(may_net) as may_net
              ,sum(jun_net) as jun_net
              ,sum(jul_net) as jul_net
              ,sum(aug_net) as aug_net
              ,sum(sep_net) as sep_net
              ,sum(oct_net) as oct_net
              ,sum(nov_net) as nov_net
              ,sum(dec_net) as dec_net
        from (
           (select
                w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state, w_country
                   ,concat('DHL', ',', 'BARIAN') as ship_carriers
             ,d_year as year_
                ,sum(case when d_moy = 1 then ws_ext_sales_price * ws_quantity else 0 end) as jan_sales
                ,sum(case when d_moy = 2 then ws_ext_sales_price * ws_quantity else 0 end) as feb_sales
                ,sum(case when d_moy = 3 then ws_ext_sales_price * ws_quantity else 0 end) as mar_sales
                ,sum(case when d_moy = 4 then ws_ext_sales_price * ws_quantity else 0 end) as apr_sales
                ,sum(case when d_moy = 5 then ws_ext_sales_price * ws_quantity else 0 end) as may_sales
                ,sum(case when d_moy = 6 then ws_ext_sales_price * ws_quantity else 0 end) as jun_sales
                ,sum(case when d_moy = 7 then ws_ext_sales_price * ws_quantity else 0 end) as jul_sales
                ,sum(case when d_moy = 8 then ws_ext_sales_price * ws_quantity else 0 end) as aug_sales
                ,sum(case when d_moy = 9 then ws_ext_sales_price * ws_quantity else 0 end) as sep_sales
                ,sum(case when d_moy = 10 then ws_ext_sales_price * ws_quantity else 0 end) as oct_sales
                ,sum(case when d_moy = 11 then ws_ext_sales_price * ws_quantity else 0 end) as nov_sales
                ,sum(case when d_moy = 12 then ws_ext_sales_price * ws_quantity else 0 end) as dec_sales
                ,sum(case when d_moy = 1 then ws_net_paid * ws_quantity else 0 end) as jan_net
                ,sum(case when d_moy = 2 then ws_net_paid * ws_quantity else 0 end) as feb_net
                ,sum(case when d_moy = 3 then ws_net_paid * ws_quantity else 0 end) as mar_net
                ,sum(case when d_moy = 4 then ws_net_paid * ws_quantity else 0 end) as apr_net
                ,sum(case when d_moy = 5 then ws_net_paid * ws_quantity else 0 end) as may_net
                ,sum(case when d_moy = 6 then ws_net_paid * ws_quantity else 0 end) as jun_net
                ,sum(case when d_moy = 7 then ws_net_paid * ws_quantity else 0 end) as jul_net
                ,sum(case when d_moy = 8 then ws_net_paid * ws_quantity else 0 end) as aug_net
                ,sum(case when d_moy = 9 then ws_net_paid * ws_quantity else 0 end) as sep_net
                ,sum(case when d_moy = 10 then ws_net_paid * ws_quantity else 0 end) as oct_net
                ,sum(case when d_moy = 11 then ws_net_paid * ws_quantity else 0 end) as nov_net
                ,sum(case when d_moy = 12 then ws_net_paid * ws_quantity else 0 end) as dec_net
           from
             web_sales, warehouse, date_dim, time_dim, ship_mode
           where
             ws_warehouse_sk =  w_warehouse_sk
             and ws_sold_date_sk = d_date_sk
             and ws_sold_time_sk = t_time_sk
                and ws_ship_mode_sk = sm_ship_mode_sk
             and d_year = 2001
                and t_time between 30838 and 30838+28800
                and sm_carrier in ('DHL','BARIAN')
          group by
             w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state, w_country, d_year)
        union all
           (select w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state, w_country
                   ,concat('DHL', ',', 'BARIAN') as ship_carriers
             ,d_year as year_
                ,sum(case when d_moy = 1 then cs_sales_price * cs_quantity else 0 end) as jan_sales
                ,sum(case when d_moy = 2 then cs_sales_price * cs_quantity else 0 end) as feb_sales
                ,sum(case when d_moy = 3 then cs_sales_price * cs_quantity else 0 end) as mar_sales
                ,sum(case when d_moy = 4 then cs_sales_price * cs_quantity else 0 end) as apr_sales
                ,sum(case when d_moy = 5 then cs_sales_price * cs_quantity else 0 end) as may_sales
                ,sum(case when d_moy = 6 then cs_sales_price * cs_quantity else 0 end) as jun_sales
                ,sum(case when d_moy = 7 then cs_sales_price * cs_quantity else 0 end) as jul_sales
                ,sum(case when d_moy = 8 then cs_sales_price * cs_quantity else 0 end) as aug_sales
                ,sum(case when d_moy = 9 then cs_sales_price * cs_quantity else 0 end) as sep_sales
                ,sum(case when d_moy = 10 then cs_sales_price * cs_quantity else 0 end) as oct_sales
                ,sum(case when d_moy = 11 then cs_sales_price * cs_quantity else 0 end) as nov_sales
                ,sum(case when d_moy = 12 then cs_sales_price * cs_quantity else 0 end) as dec_sales
                ,sum(case when d_moy = 1 then cs_net_paid_inc_tax * cs_quantity else 0 end) as jan_net
                ,sum(case when d_moy = 2 then cs_net_paid_inc_tax * cs_quantity else 0 end) as feb_net
                ,sum(case when d_moy = 3 then cs_net_paid_inc_tax * cs_quantity else 0 end) as mar_net
                ,sum(case when d_moy = 4 then cs_net_paid_inc_tax * cs_quantity else 0 end) as apr_net
                ,sum(case when d_moy = 5 then cs_net_paid_inc_tax * cs_quantity else 0 end) as may_net
                ,sum(case when d_moy = 6 then cs_net_paid_inc_tax * cs_quantity else 0 end) as jun_net
                ,sum(case when d_moy = 7 then cs_net_paid_inc_tax * cs_quantity else 0 end) as jul_net
                ,sum(case when d_moy = 8 then cs_net_paid_inc_tax * cs_quantity else 0 end) as aug_net
                ,sum(case when d_moy = 9 then cs_net_paid_inc_tax * cs_quantity else 0 end) as sep_net
                ,sum(case when d_moy = 10 then cs_net_paid_inc_tax * cs_quantity else 0 end) as oct_net
                ,sum(case when d_moy = 11 then cs_net_paid_inc_tax * cs_quantity else 0 end) as nov_net
                ,sum(case when d_moy = 12 then cs_net_paid_inc_tax * cs_quantity else 0 end) as dec_net
            from
               catalog_sales, warehouse, date_dim, time_dim, ship_mode
            where
               cs_warehouse_sk =  w_warehouse_sk
               and cs_sold_date_sk = d_date_sk
               and cs_sold_time_sk = t_time_sk
                 and cs_ship_mode_sk = sm_ship_mode_sk
               and d_year = 2001
                 and t_time between 30838 AND 30838+28800
                 and sm_carrier in ('DHL','BARIAN')
            group by
               w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state, w_country, d_year
            )
        ) x
        group by
           w_warehouse_name, w_warehouse_sq_ft, w_city, w_county, w_state, w_country,
           ship_carriers, year_
        order by w_warehouse_name
        limit 100
    """,
    "q67": """
        select * from
            (select i_category, i_class, i_brand, i_product_name, d_year, d_qoy, d_moy, s_store_id,
                    sumsales, rank() over (partition by i_category order by sumsales desc) rk
             from
                (select i_category, i_class, i_brand, i_product_name, d_year, d_qoy, d_moy,
                        s_store_id, sum(coalesce(ss_sales_price*ss_quantity,0)) sumsales
                 from store_sales, date_dim, store, item
               where  ss_sold_date_sk=d_date_sk
                  and ss_item_sk=i_item_sk
                  and ss_store_sk = s_store_sk
                  and d_month_seq between 1200 and 1200+11
               group by rollup(i_category, i_class, i_brand, i_product_name, d_year, d_qoy,
                               d_moy,s_store_id))dw1) dw2
        where rk <= 100
        order by
          i_category NULLS FIRST, i_class NULLS FIRST, i_brand NULLS FIRST,
          i_product_name NULLS FIRST, d_year NULLS FIRST,
          d_qoy NULLS FIRST, d_moy NULLS FIRST, s_store_id NULLS FIRST, sumsales, rk
        limit 100
    """,
    "q70": """
        select
           sum(ss_net_profit) as total_sum, s_state, s_county
          ,grouping(s_state)+grouping(s_county) as lochierarchy
          ,rank() over (
               partition by grouping(s_state)+grouping(s_county),
               case when grouping(s_county) = 0 then s_state end
               order by sum(ss_net_profit) desc) as rank_within_parent
        from
           store_sales, date_dim d1, store
        where
           d1.d_month_seq between 1200 and 1200+11
        and d1.d_date_sk = ss_sold_date_sk
        and s_store_sk  = ss_store_sk
        and s_state in
           (select s_state from
               (select s_state as s_state,
                              rank() over ( partition by s_state order by sum(ss_net_profit) desc) as ranking
                from store_sales, store, date_dim
                where  d_month_seq between 1200 and 1200+11
                          and d_date_sk = ss_sold_date_sk
                          and s_store_sk  = ss_store_sk
                group by s_state) tmp1
            where ranking <= 5)
        group by rollup(s_state,s_county)
        order by
          lochierarchy desc
         ,case when lochierarchy = 0 then s_state end
         ,rank_within_parent, s_state NULLS FIRST, s_county NULLS FIRST
        limit 100
    """,
    "q71": """
        select i_brand_id brand_id, i_brand brand,t_hour,t_minute,
              sum(ext_price) ext_price
        from item,
           (select
               ws_ext_sales_price as ext_price,
               ws_sold_date_sk as sold_date_sk,
               ws_item_sk as sold_item_sk,
               ws_sold_time_sk as time_sk
            from web_sales, date_dim
            where d_date_sk = ws_sold_date_sk
               and d_moy=11
               and d_year=1999
            union all
            select
               cs_ext_sales_price as ext_price,
               cs_sold_date_sk as sold_date_sk,
               cs_item_sk as sold_item_sk,
               cs_sold_time_sk as time_sk
             from catalog_sales, date_dim
             where d_date_sk = cs_sold_date_sk
                 and d_moy=11
                 and d_year=1999
            union all
            select
               ss_ext_sales_price as ext_price,
               ss_sold_date_sk as sold_date_sk,
               ss_item_sk as sold_item_sk,
               ss_sold_time_sk as time_sk
            from store_sales,date_dim
            where d_date_sk = ss_sold_date_sk
               and d_moy=11
               and d_year=1999
            ) as tmp, time_dim
        where
          sold_item_sk = i_item_sk
          and i_manager_id=1
          and time_sk = t_time_sk
          and (t_meal_time = 'breakfast' or t_meal_time = 'dinner')
        group by i_brand, i_brand_id,t_hour,t_minute
        order by ext_price desc, brand_id, t_hour, t_minute
    """,
    "q76": """
        SELECT
           channel, col_name, d_year, d_qoy, i_category, COUNT(*) sales_cnt,
           SUM(ext_sales_price) sales_amt
        FROM(
           SELECT
               'store' as channel, ss_store_sk col_name, d_year, d_qoy, i_category,
               ss_ext_sales_price ext_sales_price
           FROM store_sales, item, date_dim
           WHERE ss_store_sk IS NULL
             AND ss_sold_date_sk=d_date_sk
             AND ss_item_sk=i_item_sk
           UNION ALL
           SELECT
               'web' as channel, ws_ship_customer_sk col_name, d_year, d_qoy, i_category,
               ws_ext_sales_price ext_sales_price
           FROM web_sales, item, date_dim
           WHERE ws_ship_customer_sk IS NULL
             AND ws_sold_date_sk=d_date_sk
             AND ws_item_sk=i_item_sk
           UNION ALL
           SELECT
               'catalog' as channel, cs_ship_addr_sk col_name, d_year, d_qoy, i_category,
               cs_ext_sales_price ext_sales_price
           FROM catalog_sales, item, date_dim
           WHERE cs_ship_addr_sk IS NULL
             AND cs_sold_date_sk=d_date_sk
             AND cs_item_sk=i_item_sk) foo
        GROUP BY channel, col_name, d_year, d_qoy, i_category
        ORDER BY channel, col_name, d_year, d_qoy, i_category
        limit 100
    """,
    "q77": """
        with ss as
        (select s_store_sk, sum(ss_ext_sales_price) as sales, sum(ss_net_profit) as profit
         from store_sales, date_dim, store
         where ss_sold_date_sk = d_date_sk
           and d_date between cast('2000-08-03' as date) and
                              (cast('2000-08-03' as date) + 30)
           and ss_store_sk = s_store_sk
         group by s_store_sk),
        sr as
        (select s_store_sk, sum(sr_return_amt) as returns_, sum(sr_net_loss) as profit_loss
        from store_returns, date_dim, store
        where sr_returned_date_sk = d_date_sk
           and d_date between cast('2000-08-03' as date) and
                              (cast('2000-08-03' as date) + 30)
           and sr_store_sk = s_store_sk
        group by s_store_sk),
        cs as
        (select cs_call_center_sk, sum(cs_ext_sales_price) as sales, sum(cs_net_profit) as profit
        from catalog_sales, date_dim
        where cs_sold_date_sk = d_date_sk
           and d_date between cast('2000-08-03' as date) and
                              (cast('2000-08-03' as date) + 30)
        group by cs_call_center_sk),
        cr as
        (select sum(cr_return_amount) as returns_, sum(cr_net_loss) as profit_loss
        from catalog_returns, date_dim
        where cr_returned_date_sk = d_date_sk
           and d_date between cast('2000-08-03' as date) and
                              (cast('2000-08-03' as date) + 30)),
        ws as
        (select wp_web_page_sk, sum(ws_ext_sales_price) as sales, sum(ws_net_profit) as profit
        from web_sales, date_dim, web_page
        where ws_sold_date_sk = d_date_sk
           and d_date between cast('2000-08-03' as date) and
                              (cast('2000-08-03' as date) + 30)
           and ws_web_page_sk = wp_web_page_sk
        group by wp_web_page_sk),
        wr as
        (select wp_web_page_sk, sum(wr_return_amt) as returns_, sum(wr_net_loss) as profit_loss
        from web_returns, date_dim, web_page
        where wr_returned_date_sk = d_date_sk
              and d_date between cast('2000-08-03' as date) and
                                 (cast('2000-08-03' as date) + 30)
              and wr_web_page_sk = wp_web_page_sk
        group by wp_web_page_sk)
        select channel, id, sum(sales) as sales, sum(returns_) as returns_, sum(profit) as profit
        from
        (select
           'store channel' as channel, ss.s_store_sk as id, sales,
           coalesce(returns_, 0) as returns_, (profit - coalesce(profit_loss,0)) as profit
        from ss left join sr
             on  ss.s_store_sk = sr.s_store_sk
        union all
        select
           'catalog channel' as channel, cs_call_center_sk as id, sales,
           returns_, (profit - profit_loss) as profit
        from cs, cr
        union all
        select
           'web channel' as channel, ws.wp_web_page_sk as id, sales,
           coalesce(returns_, 0) returns_, (profit - coalesce(profit_loss,0)) as profit
        from   ws left join wr
               on  ws.wp_web_page_sk = wr.wp_web_page_sk
        ) x
        group by rollup(channel, id)
        order by channel NULLS FIRST, id NULLS FIRST
        limit 100
    """,
    "q81": """
        with customer_total_return as
        (select
           cr_returning_customer_sk as ctr_customer_sk, ca_state as ctr_state,
               sum(cr_return_amt_inc_tax) as ctr_total_return
        from catalog_returns, date_dim, customer_address
        where cr_returned_date_sk = d_date_sk
          and d_year = 2000
          and cr_returning_addr_sk = ca_address_sk
        group by cr_returning_customer_sk, ca_state )
        select
           c_customer_id,c_salutation,c_first_name,c_last_name,ca_street_number,ca_street_name,
           ca_street_type,ca_suite_number,ca_city,ca_county,ca_state,ca_zip,ca_country,
           ca_gmt_offset,ca_location_type,ctr_total_return
        from customer_total_return ctr1, customer_address, customer
        where ctr1.ctr_total_return > (select avg(ctr_total_return)*1.2
                          from customer_total_return ctr2
                          where ctr1.ctr_state = ctr2.ctr_state)
              and ca_address_sk = c_current_addr_sk
              and ca_state = 'GA'
              and ctr1.ctr_customer_sk = c_customer_sk
        order by c_customer_id,c_salutation,c_first_name,c_last_name,ca_street_number,ca_street_name
                          ,ca_street_type,ca_suite_number,ca_city,ca_county,ca_state,ca_zip,ca_country,ca_gmt_offset
                         ,ca_location_type,ctr_total_return
        limit 100
    """,
    "q1": """
        WITH customer_total_return AS
          (SELECT sr_customer_sk AS ctr_customer_sk, sr_store_sk AS ctr_store_sk,
                  sum(sr_return_amt) AS ctr_total_return
           FROM store_returns, date_dim
           WHERE sr_returned_date_sk = d_date_sk AND d_year = 2000
           GROUP BY sr_customer_sk, sr_store_sk)
        SELECT c_customer_id
          FROM customer_total_return ctr1, store, customer
          WHERE ctr1.ctr_total_return >
           (SELECT avg(ctr_total_return)*1.2
             FROM customer_total_return ctr2
              WHERE ctr1.ctr_store_sk = ctr2.ctr_store_sk)
          AND s_store_sk = ctr1.ctr_store_sk
          AND s_state = 'TN'
          AND ctr1.ctr_customer_sk = c_customer_sk
          ORDER BY c_customer_id LIMIT 100
    """,
    "q5": """
        WITH ssr AS
         (SELECT s_store_id,
                 sum(sales_price) as sales,
                 sum(profit) as profit,
                 sum(return_amt) as returns_,
                 sum(net_loss) as profit_loss
         FROM
           (SELECT ss_store_sk as store_sk,
                   ss_sold_date_sk  as date_sk,
                   ss_ext_sales_price as sales_price,
                   ss_net_profit as profit,
                   cast(0 as decimal(7,2)) as return_amt,
                   cast(0 as decimal(7,2)) as net_loss
           FROM store_sales
           UNION ALL
           SELECT sr_store_sk as store_sk,
                  sr_returned_date_sk as date_sk,
                  cast(0 as decimal(7,2)) as sales_price,
                  cast(0 as decimal(7,2)) as profit,
                  sr_return_amt as return_amt,
                  sr_net_loss as net_loss
           FROM store_returns)
           salesreturns, date_dim, store
         WHERE date_sk = d_date_sk
              and d_date between cast('2000-08-23' as date)
                         and ((cast('2000-08-23' as date) + 14))
              and store_sk = s_store_sk
        GROUP BY s_store_id),
        csr AS
        (SELECT cp_catalog_page_id,
                sum(sales_price) as sales,
                sum(profit) as profit,
                sum(return_amt) as returns_,
                sum(net_loss) as profit_loss
        FROM
          (SELECT cs_catalog_page_sk as page_sk,
                  cs_sold_date_sk  as date_sk,
                  cs_ext_sales_price as sales_price,
                  cs_net_profit as profit,
                  cast(0 as decimal(7,2)) as return_amt,
                  cast(0 as decimal(7,2)) as net_loss
           FROM catalog_sales
           UNION ALL
           SELECT cr_catalog_page_sk as page_sk,
                  cr_returned_date_sk as date_sk,
                  cast(0 as decimal(7,2)) as sales_price,
                  cast(0 as decimal(7,2)) as profit,
                  cr_return_amount as return_amt,
                  cr_net_loss as net_loss
           from catalog_returns
          ) salesreturns, date_dim, catalog_page
        WHERE date_sk = d_date_sk
              and d_date between cast('2000-08-23' as date)
                         and ((cast('2000-08-23' as date) + 14))
              and page_sk = cp_catalog_page_sk
        GROUP BY cp_catalog_page_id)
        ,
        wsr AS
        (SELECT web_site_id,
                sum(sales_price) as sales,
                sum(profit) as profit,
                sum(return_amt) as returns_,
                sum(net_loss) as profit_loss
        from
         (select  ws_web_site_sk as wsr_web_site_sk,
                   ws_sold_date_sk  as date_sk,
                   ws_ext_sales_price as sales_price,
                   ws_net_profit as profit,
                   cast(0 as decimal(7,2)) as return_amt,
                   cast(0 as decimal(7,2)) as net_loss
           from web_sales
           union all
           select ws_web_site_sk as wsr_web_site_sk,
                  wr_returned_date_sk as date_sk,
                  cast(0 as decimal(7,2)) as sales_price,
                  cast(0 as decimal(7,2)) as profit,
                  wr_return_amt as return_amt,
                  wr_net_loss as net_loss
           FROM web_returns LEFT  OUTER JOIN web_sales on
                ( wr_item_sk = ws_item_sk
                  and wr_order_number = ws_order_number)
          ) salesreturns, date_dim, web_site
        WHERE date_sk = d_date_sk
              and d_date between cast('2000-08-23' as date)
                         and ((cast('2000-08-23' as date) + 14))
              and wsr_web_site_sk = web_site_sk
        GROUP BY web_site_id)
        SELECT channel,
               id,
               sum(sales) as sales,
               sum(returns_) as returns_,
               sum(profit) as profit
        from
        (select 'store channel' as channel,
                concat('store', s_store_id) as id,
                sales,
                returns_,
               (profit - profit_loss) as profit
        FROM ssr
        UNION ALL
        select 'catalog channel' as channel,
               concat('catalog_page', cp_catalog_page_id) as id,
               sales,
               returns_,
               (profit - profit_loss) as profit
        FROM  csr
        UNION ALL
        SELECT 'web channel' as channel,
               concat('web_site', web_site_id) as id,
               sales,
               returns_,
               (profit - profit_loss) as profit
        FROM wsr
        ) x
        GROUP BY ROLLUP (channel, id)
        ORDER BY channel NULLS FIRST, id NULLS FIRST
        LIMIT 100
    """,
    "q69": """
        select
           cd_gender, cd_marital_status, cd_education_status, count(*) cnt1,
           cd_purchase_estimate, count(*) cnt2, cd_credit_rating, count(*) cnt3
        from
           customer c,customer_address ca,customer_demographics
        where
           c.c_current_addr_sk = ca.ca_address_sk and
           ca_state in ('KY', 'GA', 'NM') and
           cd_demo_sk = c.c_current_cdemo_sk and
           exists (select * from store_sales, date_dim
                   where c.c_customer_sk = ss_customer_sk and
                       ss_sold_date_sk = d_date_sk and
                       d_year = 2001 and
                       d_moy between 4 and 4+2) and
          (not exists (select * from web_sales, date_dim
                       where c.c_customer_sk = ws_bill_customer_sk and
                           ws_sold_date_sk = d_date_sk and
                           d_year = 2001 and
                           d_moy between 4 and 4+2) and
           not exists (select * from catalog_sales, date_dim
                       where c.c_customer_sk = cs_ship_customer_sk and
                           cs_sold_date_sk = d_date_sk and
                           d_year = 2001 and
                           d_moy between 4 and 4+2))
        group by cd_gender, cd_marital_status, cd_education_status,
                 cd_purchase_estimate, cd_credit_rating
        order by cd_gender, cd_marital_status, cd_education_status,
                 cd_purchase_estimate, cd_credit_rating
        limit 100
    """,
    "q78": """
        with ws as
          (select d_year AS ws_sold_year, ws_item_sk,
            ws_bill_customer_sk ws_customer_sk,
            sum(ws_quantity) ws_qty,
            sum(ws_wholesale_cost) ws_wc,
            sum(ws_sales_price) ws_sp
           from web_sales
           left join web_returns on wr_order_number=ws_order_number and ws_item_sk=wr_item_sk
           join date_dim on ws_sold_date_sk = d_date_sk
           where wr_order_number is null
           group by d_year, ws_item_sk, ws_bill_customer_sk
           ),
        cs as
          (select d_year AS cs_sold_year, cs_item_sk,
            cs_bill_customer_sk cs_customer_sk,
            sum(cs_quantity) cs_qty,
            sum(cs_wholesale_cost) cs_wc,
            sum(cs_sales_price) cs_sp
           from catalog_sales
           left join catalog_returns on cr_order_number=cs_order_number and cs_item_sk=cr_item_sk
           join date_dim on cs_sold_date_sk = d_date_sk
           where cr_order_number is null
           group by d_year, cs_item_sk, cs_bill_customer_sk
           ),
        ss as
          (select d_year AS ss_sold_year, ss_item_sk,
            ss_customer_sk,
            sum(ss_quantity) ss_qty,
            sum(ss_wholesale_cost) ss_wc,
            sum(ss_sales_price) ss_sp
           from store_sales
           left join store_returns on sr_ticket_number=ss_ticket_number and ss_item_sk=sr_item_sk
           join date_dim on ss_sold_date_sk = d_date_sk
           where sr_ticket_number is null
           group by d_year, ss_item_sk, ss_customer_sk
           )
        select
          round(ss_qty/(coalesce(ws_qty+cs_qty,1)),2) ratio,
          ss_qty store_qty, ss_wc store_wholesale_cost, ss_sp store_sales_price,
          coalesce(ws_qty,0)+coalesce(cs_qty,0) other_chan_qty,
          coalesce(ws_wc,0)+coalesce(cs_wc,0) other_chan_wholesale_cost,
          coalesce(ws_sp,0)+coalesce(cs_sp,0) other_chan_sales_price
        from ss
        left join ws on (ws_sold_year=ss_sold_year and ws_item_sk=ss_item_sk and ws_customer_sk=ss_customer_sk)
        left join cs on (cs_sold_year=ss_sold_year and ss_item_sk=cs_item_sk and cs_customer_sk=ss_customer_sk)
        where coalesce(ws_qty,0)>0 and coalesce(cs_qty, 0)>0 and ss_sold_year=2000
        order by
          ratio,
          ss_qty desc, ss_wc desc, ss_sp desc,
          other_chan_qty,
          other_chan_wholesale_cost,
          other_chan_sales_price,
          round(ss_qty/(coalesce(ws_qty+cs_qty,1)),2)
         limit 100
    """,
    "q80": """
        with ssr as
        (select  s_store_id as store_id,
                 sum(ss_ext_sales_price) as sales,
                 sum(coalesce(sr_return_amt, 0)) as returns_,
                 sum(ss_net_profit - coalesce(sr_net_loss, 0)) as profit
         from store_sales left outer join store_returns on
                (ss_item_sk = sr_item_sk and ss_ticket_number = sr_ticket_number),
            date_dim, store, item, promotion
        where ss_sold_date_sk = d_date_sk
              and d_date between cast('2000-08-23' as date)
                         and (cast('2000-08-23' as date) + 30)
              and ss_store_sk = s_store_sk
              and ss_item_sk = i_item_sk
              and i_current_price > 50
              and ss_promo_sk = p_promo_sk
              and p_channel_tv = 'N'
        group by s_store_id),
        csr as
        (select  cp_catalog_page_id as catalog_page_id,
                 sum(cs_ext_sales_price) as sales,
                 sum(coalesce(cr_return_amount, 0)) as returns_,
                 sum(cs_net_profit - coalesce(cr_net_loss, 0)) as profit
         from catalog_sales left outer join catalog_returns on
                (cs_item_sk = cr_item_sk and cs_order_number = cr_order_number),
            date_dim, catalog_page, item, promotion
        where cs_sold_date_sk = d_date_sk
              and d_date between cast('2000-08-23' as date)
                         and (cast('2000-08-23' as date) + 30)
               and cs_catalog_page_sk = cp_catalog_page_sk
              and cs_item_sk = i_item_sk
              and i_current_price > 50
              and cs_promo_sk = p_promo_sk
              and p_channel_tv = 'N'
        group by cp_catalog_page_id),
        wsr as
        (select  web_site_id,
                 sum(ws_ext_sales_price) as sales,
                 sum(coalesce(wr_return_amt, 0)) as returns_,
                 sum(ws_net_profit - coalesce(wr_net_loss, 0)) as profit
         from web_sales left outer join web_returns on
                (ws_item_sk = wr_item_sk and ws_order_number = wr_order_number),
            date_dim, web_site, item, promotion
        where ws_sold_date_sk = d_date_sk
              and d_date between cast('2000-08-23' as date)
                         and (cast('2000-08-23' as date) + 30)
               and ws_web_site_sk = web_site_sk
              and ws_item_sk = i_item_sk
              and i_current_price > 50
              and ws_promo_sk = p_promo_sk
              and p_channel_tv = 'N'
        group by web_site_id)
        select channel, id, sum(sales) as sales, sum(returns_) as returns_, sum(profit) as profit
        from (select
               'store channel' as channel, concat('store', store_id) as id, sales, returns_, profit
             from ssr
             union all
             select
               'catalog channel' as channel, concat('catalog_page', catalog_page_id) as id,
               sales, returns_, profit
             from csr
             union all
             select
               'web channel' as channel, concat('web_site', web_site_id) as id, sales, returns_, profit
             from  wsr) x
        group by rollup (channel, id)
        order by channel NULLS FIRST, id NULLS FIRST
        limit 100
    """,
    "q97": """
        with ssci as (
        select ss_customer_sk customer_sk, ss_item_sk item_sk
        from store_sales,date_dim
        where ss_sold_date_sk = d_date_sk
          and d_month_seq between 1200 and 1200 + 11
        group by ss_customer_sk, ss_item_sk),
        csci as(
         select cs_bill_customer_sk customer_sk, cs_item_sk item_sk
        from catalog_sales,date_dim
        where cs_sold_date_sk = d_date_sk
          and d_month_seq between 1200 and 1200 + 11
        group by cs_bill_customer_sk, cs_item_sk)
        select sum(case when ssci.customer_sk is not null and csci.customer_sk is null then 1 else 0 end) store_only
              ,sum(case when ssci.customer_sk is null and csci.customer_sk is not null then 1 else 0 end) catalog_only
              ,sum(case when ssci.customer_sk is not null and csci.customer_sk is not null then 1 else 0 end) store_and_catalog
        from ssci full outer join csci on (ssci.customer_sk=csci.customer_sk
                                       and ssci.item_sk = csci.item_sk)
        limit 100
    """,
}


# CTEs referenced by more than one branch of their query — the ones
# Spark's CTE inlining re-executes per branch (3 scans of item and
# store_sales for q14's pair, 2 full ssales aggregations for q24, a
# two-sided year self-join of cross_sales for q64, and q23's
# frequent-items/best-customer filters applied in both the catalog and
# web branches). The materialized scale mode caches exactly these.
TPCDS14_SHARED_CTES: dict[str, tuple[str, ...]] = {
    "q14a": ("cross_items", "avg_sales"),
    "q14b": ("cross_items", "avg_sales"),
    "q23a": ("frequent_ss_items", "best_ss_customer"),
    "q23b": ("frequent_ss_items", "best_ss_customer"),
    "q24a": ("ssales",),
    "q24b": ("ssales",),
    "q64": ("cross_sales",),
}


def register_tpcds14(spark: SparkSession, scale: float = 0.01, seed: str = "100") -> None:
    for name in TPCDS14_TABLES:
        gen_tpcds(spark, name, scale, seed).createOrReplaceTempView(name)


def run_materialized(spark: SparkSession, name: str):
    """Scale-mode execution of a multi-branch WITH query: shared CTEs
    materialized and executed once (see ``plans.cte``). Same results as
    ``spark.sql(TPCDS14_QUERIES[name])``, minus the per-branch CTE
    re-execution that dominates at 100x scale."""
    from ..plans.cte import materialize_ctes

    return materialize_ctes(
        spark, TPCDS14_QUERIES[name], TPCDS14_SHARED_CTES.get(name, ())
    )


def tpcds14_queries(materialize_shared: bool = False) -> list[Query]:
    """Suite Query objects; ``materialize_shared`` switches the
    multi-branch WITH queries to the materialized-CTE scale mode."""
    out = []
    for n, sql in TPCDS14_QUERIES.items():
        if materialize_shared and n in TPCDS14_SHARED_CTES:
            out.append(Query(name=n, build=lambda s, _n=n: run_materialized(s, _n)))
        else:
            out.append(Query.from_sql(n, sql))
    return out
