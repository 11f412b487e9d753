package graft.transform.managed

import graft.transform.TransformDsl._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Managed Amazon Inspector findings mapping (reference
  * data/managed/log_sources/aws_inspector/log_source.yml): vulnerability
  * findings → ECS vulnerability.* (reference join, max CVSS base score,
  * joined scoring versions, vendor severity), network-reachability
  * details, vulnerable packages (snake_cased, source-layer hashes into
  * related.hash), EC2 resource details (addresses into related.ip), and
  * the aws.inspector vendor struct. The ECR/Lambda resource variants
  * follow the same shape and are out of this subset.
  */
object Inspector {

  val rawSchema: StructType = StructType(Seq(
    StructField("updatedAt", StringType),
    StructField("firstObservedAt", StringType),
    StructField("lastObservedAt", StringType),
    StructField("description", StringType),
    StructField("awsAccountId", StringType),
    StructField("severity", StringType),
    StructField("findingArn", StringType),
    StructField("fixAvailable", StringType),
    StructField("inspectorScore", DoubleType),
    StructField("status", StringType),
    StructField("title", StringType),
    StructField("type", StringType),
    StructField("networkReachabilityDetails", StructType(Seq(
      StructField("protocol", StringType),
      StructField("openPortRange", StructType(Seq(
        StructField("begin", IntegerType), StructField("end", IntegerType)))),
      StructField("networkPath", StructType(Seq(
        StructField("steps", ArrayType(StructType(Seq(
          StructField("componentId", StringType),
          StructField("componentType", StringType))))))))))),
    StructField("packageVulnerabilityDetails", StructType(Seq(
      StructField("vulnerabilityId", StringType),
      StructField("referenceUrls", ArrayType(StringType)),
      StructField("relatedVulnerabilities", ArrayType(StringType)),
      StructField("source", StringType),
      StructField("sourceUrl", StringType),
      StructField("vendorCreatedAt", StringType),
      StructField("vendorUpdatedAt", StringType),
      StructField("vendorSeverity", StringType),
      StructField("cvss", ArrayType(StructType(Seq(
        StructField("baseScore", DoubleType),
        StructField("scoringVector", StringType),
        StructField("source", StringType),
        StructField("version", StringType))))),
      StructField("vulnerablePackages", ArrayType(StructType(Seq(
        StructField("name", StringType),
        StructField("version", StringType),
        StructField("arch", StringType),
        StructField("epoch", IntegerType),
        StructField("release", StringType),
        StructField("filePath", StringType),
        StructField("fixedInVersion", StringType),
        StructField("packageManager", StringType),
        StructField("sourceLayerHash", StringType)))))))),
    StructField("remediation", StructType(Seq(
      StructField("recommendation", StructType(Seq(
        StructField("text", StringType), StructField("Url", StringType))))))),
    StructField("resources", ArrayType(StructType(Seq(
      StructField("id", StringType),
      StructField("type", StringType),
      StructField("region", StringType),
      StructField("partition", StringType),
      StructField("details", StructType(Seq(
        StructField("awsEc2Instance", StructType(Seq(
          StructField("iamInstanceProfileArn", StringType),
          StructField("imageId", StringType),
          StructField("ipV4Addresses", ArrayType(StringType)),
          StructField("ipV6Addresses", ArrayType(StringType)),
          StructField("keyName", StringType),
          StructField("launchedAt", StringType),
          StructField("platform", StringType),
          StructField("subnetId", StringType),
          StructField("type", StringType),
          StructField("vpcId", StringType)))))))))))))

  def apply(df: DataFrame): DataFrame = {
    var out = df.withColumn("r", from_json(col("json"), rawSchema))
    def set(p: String, v: Column): Unit = out = setPath(out, p, v)
    val pv = "r.packageVulnerabilityDetails"

    set("event.kind", lit("event"))
    set("event.type", array(lit("info")))
    set("cloud.provider", lit("aws"))
    set("ts", try_to_timestamp(col("r.updatedAt")))
    set("message", col("r.description"))
    set("cloud.account.id", col("r.awsAccountId"))
    set("network.transport", lower(col("r.networkReachabilityDetails.protocol")))

    set("vulnerability.id", col(s"$pv.vulnerabilityId"))
    set("vulnerability.reference", array_join(col(s"$pv.referenceUrls"), ","))
    set("vulnerability.severity", col(s"$pv.vendorSeverity"))
    val cvss = coalesce(col(s"$pv.cvss"), array().cast(
      rawSchema("packageVulnerabilityDetails").dataType.asInstanceOf[StructType]("cvss").dataType))
    set("vulnerability.score.base", array_max(F.transform(cvss, _.getField("baseScore"))))
    set("vulnerability.score.version",
      when(col(s"$pv.cvss").isNotNull,
        array_join(F.transform(cvss, _.getField("version")), ",")))

    val pkgs = coalesce(col(s"$pv.vulnerablePackages"), array().cast(
      rawSchema("packageVulnerabilityDetails").dataType.asInstanceOf[StructType]("vulnerablePackages").dataType))
    val ec2 = try_element_at(col("r.resources"), lit(1)).getField("details").getField("awsEc2Instance")

    set("aws.inspector", struct(
      try_to_timestamp(col("r.updatedAt")).as("updated_at"),
      try_to_timestamp(col("r.firstObservedAt")).as("first_observed_at"),
      try_to_timestamp(col("r.lastObservedAt")).as("last_observed_at"),
      col("r.severity").as("severity"),
      col("r.findingArn").as("finding_arn"),
      col("r.fixAvailable").as("fix_available"),
      col("r.inspectorScore").as("inspector_score"),
      col("r.status").as("status"),
      col("r.title").as("title"),
      col("r.type").as("type"),
      struct(
        struct(col("r.networkReachabilityDetails.openPortRange.begin").as("begin"),
          col("r.networkReachabilityDetails.openPortRange.end").as("end")).as("open_port_range"),
        struct(F.transform(
          coalesce(col("r.networkReachabilityDetails.networkPath.steps"),
            array().cast(ArrayType(StructType(Seq(
              StructField("componentId", StringType),
              StructField("componentType", StringType)))))),
          s => struct(struct(
            s.getField("componentId").as("id"),
            s.getField("componentType").as("type")).as("component"))).as("steps")).as("network_path")
      ).as("network_reachability_details"),
      struct(
        col(s"$pv.relatedVulnerabilities").as("related_vulnerabilities"),
        struct(col(s"$pv.source").as("value"),
          col(s"$pv.sourceUrl").as("url")).as("source"),
        struct(
          try_to_timestamp(col(s"$pv.vendorCreatedAt")).as("created_at"),
          try_to_timestamp(col(s"$pv.vendorUpdatedAt")).as("updated_at"),
          col(s"$pv.vendorSeverity").as("severity")).as("vendor"),
        F.transform(cvss, v => struct(
          v.getField("baseScore").as("base_score"),
          v.getField("scoringVector").as("scoring_vector"),
          v.getField("source").as("source"),
          v.getField("version").as("version"))).as("cvss"),
        F.transform(pkgs, p => struct(
          p.getField("name").as("name"),
          p.getField("version").as("version"),
          p.getField("arch").as("arch"),
          p.getField("epoch").as("epoch"),
          p.getField("release").as("release"),
          p.getField("filePath").as("file_path"),
          p.getField("fixedInVersion").as("fixed_in_version"),
          p.getField("packageManager").as("package_manager"),
          p.getField("sourceLayerHash").as("source_layer_hash"))).as("vulnerable_packages")
      ).as("package_vulnerability_details"),
      struct(struct(
        col("r.remediation.recommendation.text").as("text"),
        col("r.remediation.recommendation.Url").as("url")).as("recommendation")).as("remediation"),
      F.transform(coalesce(col("r.resources"),
        array().cast(rawSchema("resources").dataType.asInstanceOf[ArrayType])),
        v => struct(
          v.getField("id").as("id"),
          v.getField("type").as("type"),
          v.getField("region").as("region"))).as("resources")))

    set("cloud.region", try_element_at(col("r.resources"), lit(1)).getField("region"))
    set("related.hash", filter(
      F.transform(pkgs, _.getField("sourceLayerHash")), x => x.isNotNull))
    val empty = array().cast(ArrayType(StringType))
    set("related.ip", concat(
      coalesce(ec2.getField("ipV4Addresses"), empty),
      coalesce(ec2.getField("ipV6Addresses"), empty)))

    out = out.drop("r", "json")
    ecsFooter(out)
  }
}
