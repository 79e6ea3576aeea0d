package graft
package queries

import org.apache.spark.sql.functions._

import graft.api.ClientApi
import graft.functions.ChemFns
import graft.ops.RelOps
import graft.pipelines.{Checkpointed, Repurpose}

import Support._

/** Knowledge-graph client: the reference scripts' candidate-drug
  * pipelines, the ClientApi lookups over the persisted association
  * index, and the live-source endpoint scan.
  */
private[graft] object KgQueries {

  val all: Seq[Q] = Seq(
    // ---------------- §3.1 pipeline: candidate parts ----------------
    Q("q22_candidate_parts", (s, dir) => Repurpose.candidateParts(s, dir),
      """WITH seg AS (
           SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           WHERE c_mktsegment = 'BUILDING'),
         target_suppliers AS (
           SELECT DISTINCT l_suppkey FROM seg WHERE l_quantity >= 45),
         dtd AS (
           SELECT DISTINCT l_partkey FROM lineitem
           WHERE l_suppkey IN (SELECT l_suppkey FROM target_suppliers)),
         dd AS (SELECT DISTINCT l_partkey FROM seg)
         SELECT d.l_partkey AS p_partkey, p_name
         FROM dtd d LEFT JOIN part ON p_partkey = d.l_partkey
         WHERE d.l_partkey NOT IN (SELECT l_partkey FROM dd)
         ORDER BY p_partkey"""),

    // ---------------- §3.2 pipeline: related candidates + phase-2 merge ----------------
    Q("q23_related_candidates", (s, dir) => Repurpose.relatedCandidates(s, dir),
      """WITH facts AS (
           SELECT l_partkey, l_suppkey, l_quantity, o_custkey, c_mktsegment
           FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey),
         mains AS (SELECT * FROM facts WHERE c_mktsegment = 'BUILDING'),
         main_targets AS (
           SELECT DISTINCT l_partkey FROM mains WHERE l_quantity >= 45),
         others AS (SELECT * FROM facts WHERE c_mktsegment <> 'BUILDING'),
         related_customers AS (
           SELECT DISTINCT o_custkey FROM others
           WHERE l_partkey IN (SELECT l_partkey FROM main_targets)),
         related_lines AS (
           SELECT * FROM others
           WHERE o_custkey IN (SELECT o_custkey FROM related_customers)),
         candidates AS (
           SELECT DISTINCT l_partkey FROM related_lines
           EXCEPT SELECT DISTINCT l_partkey FROM mains)
         SELECT l_partkey AS p_partkey,
           count(DISTINCT o_custkey) AS n_related_customers,
           count(DISTINCT l_suppkey) AS n_suppliers
         FROM related_lines
         WHERE l_partkey IN (SELECT l_partkey FROM candidates)
         GROUP BY l_partkey ORDER BY p_partkey"""),

    // ---------------- S2 entity-filtered union search ----------------
    // the reference's search(queryString, entityNames=[...]) over the
    // union type Target|Drug|Disease: tag column + per-entity arms
    Q("q47_entity_search", (s, dir) => {
      val tt = t(s, dir)
      val entities = tt.part
        .select(lit("part").as("entity"), col("p_partkey").as("id"), col("p_name").as("name"))
        .unionByName(tt.supplier
          .select(lit("supplier").as("entity"), col("s_suppkey").as("id"), col("s_name").as("name")))
        .unionByName(tt.customer
          .select(lit("customer").as("entity"), col("c_custkey").as("id"), col("c_name").as("name")))
      RelOps.search(entities, col("name"), "1")
        .filter(col("entity").isin("supplier", "customer"))
        .orderBy("entity", "id")
    },
      """SELECT entity, id, name FROM (
           SELECT 'part' AS entity, p_partkey AS id, p_name AS name FROM part
           UNION ALL
           SELECT 'supplier', s_suppkey, s_name FROM supplier
           UNION ALL
           SELECT 'customer', c_custkey, c_name FROM customer)
         WHERE lower(name) LIKE '%1%' AND entity IN ('supplier','customer')
         ORDER BY entity, id"""),

    // ---------------- KG client-api: disease → targets (J1+P3+SO5) ----------------
    Q("q49_kg_disease_targets", (s, dir) => {
      val kg = kgIndexed(s, dir)
      ClientApi.getDiseaseTargets(kg,
        ClientApi.getDiseaseIds(kg, "BUILDING"), minScore = 0.33)
        .orderBy("id")
    },
      """WITH pair AS (
           SELECT c_mktsegment AS m, l_partkey AS p, sum(l_quantity) AS q
           FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           GROUP BY 1, 2),
         edges AS (
           SELECT 'DIS_' || m AS disease_id, 'TGT_' || p AS target_id,
             round(q / sum(q) OVER (PARTITION BY p), 6) AS score
           FROM pair),
         kept AS (
           SELECT *, row_number() OVER
             (PARTITION BY target_id ORDER BY score DESC, disease_id) AS rn
           FROM edges WHERE disease_id = 'DIS_BUILDING' AND score >= 0.33)
         SELECT target_id AS id, score, disease_id FROM kept WHERE rn = 1
         ORDER BY id"""),

    // ---------------- S5→F4→P10→F5: the ChEMBL enrichment chain ----------------
    // Mirrors the reference chembl_to_smile.py:21-48 +
    // chembl_to_molecule_type.py:16-26: lookup-table left join (S5) →
    // JSON navigation to molecule_structures.canonical_smiles (F4) →
    // name coalesce fallback (P10) → SMILES canonicalization UDF +
    // is-canonical check (F5). The molecule fixture is derived
    // deterministically from `part`, with deliberate gaps (30% of keys
    // absent, a third of names null) so the left-join/coalesce paths
    // are really exercised; the SMILES literals were chosen so the
    // UDF's canonical form is hand-computable in the DuckDB twin.
    Q("q55_chembl_enrichment", (s, dir) => {
      val base = t(s, dir).part.filter(col("p_partkey") <= 300)
      val smilesLit = element_at(
        array(lit("C2CC2"), lit("C1CC1"), lit("c1ccccc1"),
          lit("C3CC3C1CC1"), lit("CC(=O)O")),
        (col("p_partkey") % 5 + 1).cast("int"))
      val molecules = base.filter(col("p_partkey") % 10 < 7)
        .select(col("p_partkey").as("mol_key"),
          when(col("p_partkey") % 3 =!= 0, concat(lit("MOL "), col("p_name"))).as("mol_name"),
          concat(lit("{\"molecule_structures\":{\"canonical_smiles\":\""),
            smilesLit, lit("\"}}")).as("mol_json"))
      base.select(col("p_partkey"))
        .join(molecules, col("p_partkey") === col("mol_key"), "left")
        .withColumn("smiles",
          get_json_object(col("mol_json"), "$.molecule_structures.canonical_smiles"))
        .select(col("p_partkey"),
          coalesce(col("mol_name"), lit("UNKNOWN")).as("name"),
          col("smiles"),
          ChemFns.canonicalSmiles(col("smiles")).as("canonical_smiles"),
          coalesce(ChemFns.isCanonical(col("smiles")), lit(false)).as("is_canonical"))
        .orderBy("p_partkey")
    },
      """WITH base AS (SELECT p_partkey, p_name FROM part WHERE p_partkey <= 300),
         mol AS (
           SELECT p_partkey AS mol_key,
             CASE WHEN p_partkey % 3 <> 0 THEN 'MOL ' || p_name END AS mol_name,
             '{"molecule_structures":{"canonical_smiles":"' ||
               CASE CAST(p_partkey % 5 AS INT)
                 WHEN 0 THEN 'C2CC2' WHEN 1 THEN 'C1CC1' WHEN 2 THEN 'c1ccccc1'
                 WHEN 3 THEN 'C3CC3C1CC1' ELSE 'CC(=O)O' END || '"}}' AS mol_json
           FROM base WHERE p_partkey % 10 < 7),
         enriched AS (
           SELECT b.p_partkey, coalesce(mol_name, 'UNKNOWN') AS name,
             json_extract_string(mol_json,
               '$.molecule_structures.canonical_smiles') AS smiles
           FROM base b LEFT JOIN mol ON mol_key = b.p_partkey),
         canon AS (
           SELECT *,
             CASE WHEN smiles = 'C2CC2' THEN 'C1CC1'
                  WHEN smiles = 'C1CC1' THEN 'C1CC1'
                  WHEN smiles = 'c1ccccc1' THEN 'c1ccccc1'
                  WHEN smiles = 'C3CC3C1CC1' THEN 'C1CC1C2CC2'
                  WHEN smiles = 'CC(=O)O' THEN 'CC(=O)O' END AS canonical_smiles
           FROM enriched)
         SELECT p_partkey, name, smiles, canonical_smiles,
           coalesce(canonical_smiles = smiles, false) AS is_canonical
         FROM canon ORDER BY p_partkey"""),

    // ---------------- J7 two-level nested expand ----------------
    // Mirrors the reference opentargets_query_targets_for_drug.py
    // :37-40 (drug → mechanismsOfAction.rows[] → targets[]): build
    // the real array<struct<action_type, array<target>>> column with
    // collect_set/collect_list, then navigate it back down with a
    // DOUBLE explode. The oracle is the flat distinct-triple query the
    // round-trip must reproduce.
    Q("q56_mechanism_targets", (s, dir) => {
      val tt = t(s, dir)
      val facts = tt.lineitem.select(col("l_suppkey"), col("l_partkey"))
        .join(tt.part.select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
      val perMech = facts.groupBy(col("l_suppkey"), col("p_brand"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("targets"))
      val nested = perMech.groupBy(col("l_suppkey"))
        .agg(sort_array(collect_list(
          struct(col("p_brand").as("action_type"), col("targets")))).as("mechanisms"))
      nested
        .select(col("l_suppkey").as("drug_key"), explode(col("mechanisms")).as("m"))
        .select(col("drug_key"), col("m.action_type").as("action_type"),
          explode(col("m.targets")).as("target_key"))
        .orderBy("drug_key", "action_type", "target_key")
    },
      """SELECT DISTINCT l_suppkey AS drug_key, p_brand AS action_type,
           l_partkey AS target_key
         FROM lineitem JOIN part ON p_partkey = l_partkey
         ORDER BY drug_key, action_type, target_key"""),

    // ---------------- KG client-api: target → diseases (J2+P5) ----------------
    // getTargetDiseases over the q49 target set, excluding the main
    // disease (opentargets_client_api.py:158-186).
    Q("q58_kg_target_diseases", (s, dir) => {
      val kg = kgIndexed(s, dir)
      val mains = ClientApi.getDiseaseIds(kg, "BUILDING")
      val targets = ClientApi.getDiseaseTargets(kg, mains, minScore = 0.33).select("id")
      ClientApi.getTargetDiseases(kg, targets, minScore = 0.1, excludeDiseaseIds = mains)
        .orderBy("id")
    },
      """WITH pair AS (
           SELECT c_mktsegment AS m, l_partkey AS p, sum(l_quantity) AS q
           FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           GROUP BY 1, 2),
         edges AS (
           SELECT 'DIS_' || m AS disease_id, 'TGT_' || p AS target_id,
             round(q / sum(q) OVER (PARTITION BY p), 6) AS score
           FROM pair),
         main_targets AS (
           SELECT target_id FROM (
             SELECT *, row_number() OVER
               (PARTITION BY target_id ORDER BY score DESC, disease_id) AS rn
             FROM edges WHERE disease_id = 'DIS_BUILDING' AND score >= 0.33)
           WHERE rn = 1),
         expanded AS (
           SELECT e.target_id, e.disease_id, e.score FROM edges e
           WHERE e.target_id IN (SELECT target_id FROM main_targets)
             AND e.score >= 0.1 AND e.disease_id <> 'DIS_BUILDING'),
         kept AS (
           SELECT *, row_number() OVER
             (PARTITION BY disease_id ORDER BY score DESC, target_id) AS rn
           FROM expanded)
         SELECT disease_id AS id, score, target_id FROM kept WHERE rn = 1
         ORDER BY id"""),

    // ---------------- KG client-api: disease → drugs (J3) ----------------
    Q("q59_kg_disease_drugs", (s, dir) => {
      val kg = kgIndexed(s, dir)
      ClientApi.getDiseaseDrugs(kg, ClientApi.getDiseaseIds(kg, "AUTOMOBILE"))
        .orderBy("id")
    },
      """WITH facts AS (
           SELECT l_partkey, l_suppkey, c_mktsegment FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey),
         kd AS (
           SELECT 'DIS_' || c_mktsegment AS disease_id,
             'TGT_' || l_partkey AS target_id,
             'DRG_' || l_suppkey AS drug_id,
             round(least(4.0, count(*) / 10.0), 1) AS phase
           FROM facts GROUP BY 1, 2, 3),
         kept AS (
           SELECT *, row_number() OVER
             (PARTITION BY drug_id ORDER BY phase DESC, disease_id, target_id) AS rn
           FROM kd WHERE disease_id = 'DIS_AUTOMOBILE')
         SELECT drug_id AS id, phase, disease_id FROM kept WHERE rn = 1
         ORDER BY id"""),

    // ---------------- KG client-api: drug info + linked-target list (A3) ----------------
    Q("q60_kg_drug_info", (s, dir) => {
      val kg = kgIndexed(s, dir)
      ClientApi.getDrugInfo(kg, kg.drugs.select("id"))
        .select(col("id"), col("name"),
          array_join(col("linked_targets"), ",").as("linked_targets"))
        .orderBy("id")
    },
      """WITH lt AS (
           SELECT DISTINCT 'DRG_' || l_suppkey AS drug_id,
             'TGT_' || l_partkey AS target_id
           FROM lineitem),
         agg AS (
           SELECT drug_id,
             string_agg(target_id, ',' ORDER BY target_id) AS linked_targets
           FROM lt GROUP BY drug_id)
         SELECT a.drug_id AS id, s_name AS name, linked_targets
         FROM agg a LEFT JOIN supplier ON 'DRG_' || s_suppkey = a.drug_id
         ORDER BY id"""),

    // ---------------- KG client-api: drug → first linked target (O3) ----------------
    Q("q61_kg_drug_first_target", (s, dir) => {
      val kg = kgIndexed(s, dir)
      ClientApi.getDrugFirstTarget(kg, kg.drugs.select("id")).orderBy("id")
    },
      """WITH pp AS (
           SELECT l_suppkey, l_partkey, sum(l_quantity) AS q
           FROM lineitem GROUP BY 1, 2),
         rk AS (
           SELECT *, row_number() OVER
             (PARTITION BY l_suppkey ORDER BY q DESC, l_partkey) AS rnk
           FROM pp)
         SELECT 'DRG_' || l_suppkey AS id, 'TGT_' || l_partkey AS target_id
         FROM rk WHERE rnk = 1 ORDER BY id"""),

    // ---------------- KG client-api: drug → all targets (J4+SO5) ----------------
    Q("q62_kg_drug_targets", (s, dir) => {
      val kg = kgIndexed(s, dir)
      ClientApi.getDrugTargets(kg, kg.drugs.select("id")).orderBy("id")
    },
      """WITH pp AS (
           SELECT l_suppkey, l_partkey, sum(l_quantity) AS q
           FROM lineitem GROUP BY 1, 2),
         rk AS (
           SELECT *, row_number() OVER
             (PARTITION BY l_suppkey ORDER BY q DESC, l_partkey) AS rnk
           FROM pp),
         kept AS (
           SELECT *, row_number() OVER
             (PARTITION BY l_partkey ORDER BY rnk, 'DRG_' || l_suppkey) AS rn2
           FROM rk)
         SELECT 'TGT_' || l_partkey AS id, 'DRG_' || l_suppkey AS drug_id
         FROM kept WHERE rn2 = 1 ORDER BY id"""),

    // ---------------- S5 live-source analogue: DataSourceV2 endpoint scan ----------------
    // The reference's defining op — a remote paginated entity lookup
    // (query_opentargets.py) — through the real DataSourceV2
    // connector: the part catalog is staged as the endpoint's JSONL
    // shards, then queried with a server-side search filter and field
    // selection (both pushed into the page requests; see
    // EntityEndpointSpec for the plan assertions). Oracle is the same
    // search over the parquet table.
    Q("q64_endpoint_search", (s, dir) => {
      val ep = fixturePath("endpoint", dir, "part")
      if (!new java.io.File(ep, "_SUCCESS").exists()) {
        t(s, dir).part.select(col("p_partkey"), col("p_name"), col("p_brand"))
          .coalesce(2).write.mode("overwrite").json(ep)
      }
      s.read.format("entity-endpoint")
        .option("path", ep)
        .option("schema", "p_partkey BIGINT, p_name STRING, p_brand STRING")
        .option("pageSize", "250")
        .load()
        .filter(col("p_name").contains("red"))
        .select(col("p_partkey"), col("p_name"), col("p_brand"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey, p_name, p_brand FROM part
         WHERE contains(p_name, 'red') ORDER BY p_partkey"""),

    // ---------------- KG client-api: target → pathways (J6) ----------------
    Q("q63_kg_target_pathways", (s, dir) => {
      val kg = kgIndexed(s, dir)
      val targets = ClientApi.getDiseaseTargets(kg,
        ClientApi.getDiseaseIds(kg, "BUILDING"), minScore = 0.33).select("id")
      ClientApi.getTargetPathways(kg, targets).orderBy("pathwayId")
    },
      """WITH pair AS (
           SELECT c_mktsegment AS m, l_partkey AS p, sum(l_quantity) AS q
           FROM lineitem
           JOIN orders ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           GROUP BY 1, 2),
         edges AS (
           SELECT 'DIS_' || m AS disease_id, 'TGT_' || p AS target_id,
             round(q / sum(q) OVER (PARTITION BY p), 6) AS score
           FROM pair),
         main_targets AS (
           SELECT target_id FROM (
             SELECT *, row_number() OVER
               (PARTITION BY target_id ORDER BY score DESC, disease_id) AS rn
             FROM edges WHERE disease_id = 'DIS_BUILDING' AND score >= 0.33)
           WHERE rn = 1),
         pw AS (
           SELECT 'TGT_' || p_partkey AS target_id,
             'PWY_' || p_brand AS "pathwayId",
             p_brand AS pathway, p_type AS "topLevelTerm"
           FROM part),
         kept AS (
           SELECT *, row_number() OVER
             (PARTITION BY "pathwayId" ORDER BY target_id) AS rn
           FROM pw WHERE target_id IN (SELECT target_id FROM main_targets))
         SELECT "pathwayId", pathway, "topLevelTerm", target_id
         FROM kept WHERE rn = 1 ORDER BY "pathwayId""""),

    // ---------------- checkpoint-resume lifecycle: x2.2 reload branch ----------------
    // The last reference LIFECYCLE: phase 1 checkpoints its hand-off
    // relations to CSV once per corpus; every execution of this query
    // is the reload branch — resume from the CSV checkpoints (S6/S7)
    // and run the phase-2 fan-outs + target merge (x2.2.py:249-341).
    // Same star-schema mapping as q22/q23.
    Q("q126_resume_phase2", (s, dir) =>
      Checkpointed.phase2(s, dir,
        fixturePath("x2ckpt", dir, "lineitem", "orders", "customer")),
      """WITH facts AS (
           SELECT l_partkey, l_suppkey, o_custkey,
             (c_mktsegment = 'BUILDING') AS is_main,
             max(CASE WHEN l_quantity >= 45.0 THEN 1 ELSE 0 END) AS any_hi
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2, 3, 4),
         main_targets AS (
           SELECT DISTINCT l_partkey FROM facts WHERE is_main AND any_hi = 1),
         related_customers AS (
           SELECT DISTINCT o_custkey FROM facts
           WHERE NOT is_main
             AND l_partkey IN (SELECT l_partkey FROM main_targets)),
         related_lines AS (
           SELECT * FROM facts WHERE NOT is_main
             AND o_custkey IN (SELECT o_custkey FROM related_customers)),
         candidates AS (
           SELECT DISTINCT l_partkey FROM related_lines
           EXCEPT
           SELECT DISTINCT l_partkey FROM facts WHERE is_main),
         pf AS (
           SELECT DISTINCT l.l_partkey, l.l_suppkey, o.o_custkey
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         rdt AS (
           SELECT DISTINCT o_custkey AS disease_id, l_suppkey AS target_id
           FROM pf
           WHERE o_custkey IN (SELECT o_custkey FROM related_customers)),
         cdt AS (
           SELECT DISTINCT l_partkey AS drug_id, l_suppkey AS target_id
           FROM pf
           WHERE l_partkey IN (SELECT l_partkey FROM candidates))
         SELECT r.target_id, r.disease_id, c.drug_id
         FROM rdt r JOIN cdt c ON r.target_id = c.target_id
         ORDER BY r.target_id, r.disease_id, c.drug_id"""),
  )
}
